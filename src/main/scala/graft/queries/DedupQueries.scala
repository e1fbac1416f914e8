package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{DedupFunctions, VectorFunctions}

import QueryFixtures._

/** Deduplication queries: exact, MinHash/SimHash, n-gram Jaccard,
  * substring, paragraph and incremental dedup over `documents`.
  */
object DedupQueries {
  /** Oracle of `dedup_ngram_jaccard`, `dedup_jaccard_prefix`, `dedup_minhash_verified`. */
  private val NgramJaccardSql =
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM w WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b, i AS intersection, na.n + nb.n - i AS union_size
         FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
         WHERE i * 5 >= (na.n + nb.n - i) * 4"""

  /** Oracle of `dedup_groups`, `dedup_groups_star`. */
  private val GroupsSql =
      """WITH RECURSIVE norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM w WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b FROM inter
                   JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
                   WHERE i * 5 >= (na.n + nb.n - i) * 4),
         und AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM und UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
         SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a"""

  /** Oracle of `dedup_incremental`, `dedup_incremental_bloom`. */
  private val IncrementalSql =
      """WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
         batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 = 0),
         corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 0)
         SELECT doc_id, fp FROM (
           SELECT b.doc_id, b.fp, row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
           FROM batch b ANTI JOIN corpus c USING (fp))
         WHERE rn = 1"""

  val specs: Seq[QuerySpec] = Seq(
    // C1: exact dedup groups
    QuerySpec("dedup_exact", { (s, dir) =>
      DedupFunctions.exactGroups(Tables.documents(s, dir), "doc_id", "text")
    }, Oracle(
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY 1""")),
    // C1b: dup-cluster size distribution (the Lee et al. 2022 Fig. 1
    // analysis): how many groups exist at each copy count — two tiny
    // hash aggregates after the fingerprint groupBy
    QuerySpec("dedup_group_size_hist", { (s, dir) =>
      DedupFunctions
        .exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .groupBy(col("n_copies"))
        .agg(count(lit(1)).as("n_groups"), sum(col("n_copies")).as("n_docs"))
    }, Oracle(
      """WITH g AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                           COUNT(*) AS n_copies
                    FROM documents GROUP BY 1)
         SELECT n_copies, COUNT(*) AS n_groups, CAST(SUM(n_copies) AS BIGINT) AS n_docs
         FROM g GROUP BY 1""")),
    // C1b: priority-aware cross-source exact dedup — keep the copy
    // from the most-preferred source ("curated beats crawl")
    QuerySpec("dedup_priority", { (s, dir) =>
      DedupFunctions.priorityDedup(
        Tables.documents(s, dir),
        "doc_id",
        "text",
        "source",
        Map("src1" -> 0, "src2" -> 1),
      )
    }, Oracle(
      """WITH f AS (SELECT doc_id, source, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
         r AS (SELECT doc_id, source, fp,
                      CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies,
                      row_number() OVER (PARTITION BY fp
                        ORDER BY CASE WHEN source = 'src1' THEN 0 WHEN source = 'src2' THEN 1 ELSE 2147483647 END, doc_id) AS rn
               FROM f)
         SELECT doc_id, source, fp, n_copies FROM r WHERE rn = 1""")),
    // C2: MinHash+LSH candidate pairs (hash-dependent → rows-only check)
    QuerySpec("dedup_minhash", { (s, dir) =>
      DedupFunctions.minhashCandidates(Tables.documents(s, dir), "doc_id", "text")
    }, NoOracle("xxhash64 signature bands (engine-specific hash)")),
    // C3: LSH candidates verified by exact shingle Jaccard
    QuerySpec("dedup_minhash_verified", { (s, dir) =>
      DedupFunctions
        .minhashVerified(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), col("intersection"), col("union_size"))
    }, Oracle(NgramJaccardSql)),
    // C2b: LSH band-plan table — the (bands, rows) S-curve design
    // query (threshold fit + catch probabilities, divisors of 128)
    QuerySpec("dedup_minhash_bandplan", { (s, _) =>
      DedupFunctions.minhashBandPlan(s)
    }, Oracle(
      """WITH cfg AS (SELECT CAST(b AS BIGINT) AS bands, CAST(128 // b AS BIGINT) AS rows_per_band
                      FROM range(1, 129) t(b) WHERE 128 % b = 0),
         sc AS (SELECT bands, rows_per_band,
                       CAST(round(1000000 * pow(1.0 / bands, 1.0 / rows_per_band), 0) AS BIGINT) AS t_hat_ppm,
                       CAST(round(1000000 * (1 - pow(1 - pow(0.5, rows_per_band), bands)), 0) AS BIGINT) AS p_catch_50_ppm,
                       CAST(round(1000000 * (1 - pow(1 - pow(0.7, rows_per_band), bands)), 0) AS BIGINT) AS p_catch_70_ppm,
                       CAST(round(1000000 * (1 - pow(1 - pow(0.9, rows_per_band), bands)), 0) AS BIGINT) AS p_catch_90_ppm
                FROM cfg)
         SELECT bands, rows_per_band, t_hat_ppm, p_catch_50_ppm, p_catch_70_ppm, p_catch_90_ppm,
                row_number() OVER (ORDER BY abs(t_hat_ppm - 500000), bands) = 1 AS chosen
         FROM sc""")),
    // C4: SimHash near-dup pairs (hash-dependent → rows-only check)
    QuerySpec("dedup_simhash", { (s, dir) =>
      DedupFunctions.simhashPairs(Tables.documents(s, dir), "doc_id", "text")
    }, NoOracle("xxhash64 feature hashing (engine-specific hash)")),
    // C5: exact n-gram Jaccard pairs (inverted index, τ = 0.8)
    QuerySpec("dedup_ngram_jaccard", { (s, dir) =>
      DedupFunctions
        .jaccardPairs(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), col("intersection"), col("union_size"))
    }, Oracle(NgramJaccardSql)),
    // C5d: prefix-filtered exact Jaccard — identical output to
    // dedup_ngram_jaccard (same oracle), skew-resistant candidate
    // generation for corpus scale (AllPairs/PPJoin prefix scheme)
    QuerySpec("dedup_jaccard_prefix", { (s, dir) =>
      DedupFunctions
        .jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), col("intersection"), col("union_size"))
    }, Oracle(
      // prefix filtering only changes candidate generation — the exact
      // result set is the same, so the oracle is the same
      NgramJaccardSql)),
    // C5b: embedding-cosine near-dup pairs (exact baseline, τ = 0.35)
    QuerySpec("dedup_embedding", { (s, dir) =>
      VectorFunctions.cosineDedupPairs(Tables.embeddings(s, dir), threshold = 0.35)
    }, Oracle(
      """WITH norms AS (SELECT vec_id, list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS n2 FROM embeddings)
         SELECT vec_a, vec_b, cosine FROM (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  CAST(list_sum(list_transform(generate_series(1, 64), i -> CAST(FLOOR(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE)
                    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           JOIN norms na ON na.vec_id = a.vec_id
           JOIN norms nb ON nb.vec_id = b.vec_id)
         WHERE cosine >= 0.35""")),
    // C5c: embedding near-dup at scale — banded hyperplane-LSH
    // candidates + exact cosine verify (hash-dependent → rows-only;
    // VectorDedupSpec measures recall ≥ 0.9 vs the exact baseline)
    QuerySpec("dedup_embedding_lsh", { (s, dir) =>
      VectorFunctions.cosineDedupPairsLsh(Tables.embeddings(s, dir), threshold = 0.35)
    }, NoOracle("xxhash64-seeded random hyperplanes (engine-specific hash)")),
    // C14: dedup groups — connected components over exact-Jaccard pairs
    QuerySpec("dedup_groups", { (s, dir) =>
      DedupFunctions.dedupGroups(
        DedupFunctions.jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text")
      )
    }, Oracle(GroupsSql)),
    // C14b: same components via alternating large/small-star contraction
    // — the long-diameter scale path; same recursive-CTE oracle as C14
    QuerySpec("dedup_groups_star", { (s, dir) =>
      DedupFunctions.dedupGroupsStar(
        DedupFunctions.jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text")
      )
    }, Oracle(GroupsSql)),
    // C26: incremental exact dedup — the daily-delta shape: batch =
    // doc_id ≡ 0 (mod 10) deduped against the rest as corpus
    QuerySpec("dedup_incremental", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      DedupFunctions.incrementalDedup(
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id",
        "text",
      )
    }, Oracle(IncrementalSql)),
    // C26b: same semantics through the Bloom-prefiltered plan — the
    // corpus folds into one sketch row, definite-new batch docs skip
    // the anti-join; output bit-identical (same oracle as C26)
    QuerySpec("dedup_incremental_bloom", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      DedupFunctions.incrementalDedupBloom(
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id",
        "text",
      )
    }, Oracle(IncrementalSql)),
    // C27: SemDeDup semantic dedup — k-means cells + within-cell cosine
    // τ = 0.35, keep lowest id (learned cells → rows-only; VectorDedupSpec
    // checks planted near-dup removal and survivor count)
    QuerySpec("dedup_semantic", { (s, dir) =>
      VectorFunctions.semanticDedup(Tables.embeddings(s, dir), threshold = 0.35)
    }, NoOracle("xxhash64-seeded hyperplane bands (engine-specific hash)")),
    // C38: soft dedup — every copy kept at weight 1/n_copies ppm
    // (frequency down-weighting, the hard-dedup alternative)
    QuerySpec("dedup_soft_weights", { (s, dir) =>
      DedupFunctions.softDedupWeights(Tables.documents(s, dir), "doc_id", "text")
    }, Oracle(
      """WITH f AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
         c AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY 1)
         SELECT doc_id, fp, n_copies, 1000000 // n_copies AS weight_ppm
         FROM f JOIN c USING (fp)""")),
    // C24: exact repeated-span detection (word-level substring dedup) —
    // merged per-doc intervals of corpus-repeated 10-word grams
    QuerySpec("dedup_substring", { (s, dir) =>
      DedupFunctions.repeatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 10)
    }, Oracle(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         g AS (SELECT doc_id,
                      CAST(UNNEST(generate_series(1, len(w) - 9)) AS BIGINT) AS strt,
                      UNNEST(list_transform(generate_series(1, len(w) - 9), i -> array_to_string(list_slice(w, i, i + 9), ' '))) AS gram
               FROM w WHERE len(w) >= 10),
         dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         m AS (SELECT doc_id, strt, strt + 9 AS en FROM g JOIN dup USING (gram)),
         mm AS (SELECT doc_id, strt, en,
                       MAX(en) OVER (PARTITION BY doc_id ORDER BY strt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM m),
         isl AS (SELECT doc_id, strt, en,
                        SUM(CASE WHEN pmax IS NULL OR strt > pmax + 1 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY strt) AS island
                 FROM mm)
         SELECT doc_id, MIN(strt) AS span_start, MAX(en) AS span_end,
                MAX(en) - MIN(strt) + 1 AS span_words
         FROM isl GROUP BY doc_id, island""")),
    // C24f: repeated-span REMOVAL — the cleanup step C24 only locates:
    // every marked span is cut and the doc rebuilt from the survivors
    // (bounded span array per doc + per-row HOF filter, no range join)
    QuerySpec("dedup_substring_scrub", { (s, dir) =>
      DedupFunctions.scrubRepeatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 10)
    }, Oracle(
      """WITH nw AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         g AS (SELECT doc_id,
                      CAST(UNNEST(generate_series(1, len(w) - 9)) AS BIGINT) AS strt,
                      UNNEST(list_transform(generate_series(1, len(w) - 9), i -> array_to_string(list_slice(w, i, i + 9), ' '))) AS gram
               FROM nw WHERE len(w) >= 10),
         dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         m AS (SELECT doc_id, strt, strt + 9 AS en FROM g JOIN dup USING (gram)),
         mm AS (SELECT doc_id, strt, en,
                       MAX(en) OVER (PARTITION BY doc_id ORDER BY strt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM m),
         isl AS (SELECT doc_id, strt, en,
                        SUM(CASE WHEN pmax IS NULL OR strt > pmax + 1 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY strt) AS island
                 FROM mm),
         spans AS (SELECT doc_id, MIN(strt) AS s, MAX(en) AS e FROM isl GROUP BY doc_id, island),
         wp AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS i, w FROM nw),
         words AS (SELECT doc_id, i, w[i] AS word FROM wp),
         kept AS (SELECT wd.doc_id, wd.i, wd.word
                  FROM words wd
                  WHERE NOT EXISTS (SELECT 1 FROM spans sp WHERE sp.doc_id = wd.doc_id AND wd.i BETWEEN sp.s AND sp.e)),
         agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY i) AS clean_text, COUNT(*) AS n_kept FROM kept GROUP BY 1)
         SELECT nw.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
                CAST(len(nw.w) AS BIGINT) AS n_words,
                CAST(len(nw.w) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed_words
         FROM nw LEFT JOIN agg USING (doc_id)""")),
    // C24c: winnowing-fingerprint near-dup pairs (MOSS scheme) — the
    // guaranteed-substring-match complement of shingle Jaccard, on the
    // winnowed (≈2/(w+1)-density) fingerprint index
    QuerySpec("dedup_winnow", { (s, dir) =>
      DedupFunctions.winnowPairs(Tables.documents(s, dir), "doc_id", "text")
    }, Oracle(
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         hashes AS (SELECT doc_id,
                     list_transform(generate_series(1, GREATEST(length(t) - 7, 1)), i -> substr(md5(substr(t, i, 8)), 1, 8)) AS hs
                    FROM norm),
         f AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(generate_series(1, GREATEST(len(hs) - 3, 1)), j -> list_aggregate(list_slice(hs, j, j + 3), 'min')))) AS fp
               FROM hashes),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fp
                   FROM f a JOIN f b USING (fp) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         sz AS (SELECT doc_id, COUNT(*) AS n FROM f GROUP BY 1)
         SELECT doc_a, doc_b, shared_fp, sa.n + sb.n - shared_fp AS union_fp,
                round(CAST(shared_fp AS DOUBLE) / (sa.n + sb.n - shared_fp), 6) AS winnow_sim
         FROM pairs JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         WHERE shared_fp * 2 >= sa.n + sb.n - shared_fp""")),
    // C24b: char-grain repeated spans — Lee et al.'s suffix-array
    // granularity via a k-char-gram inverted index; Zipf-split gram
    // join (hot boilerplate grams broadcast, tail shuffles bounded)
    QuerySpec("dedup_substring_char", { (s, dir) =>
      DedupFunctions.repeatedSpansChar(Tables.documents(s, dir), "doc_id", "text", k = 20)
    }, Oracle(
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         g AS (SELECT doc_id,
                      CAST(UNNEST(generate_series(1, len(t) - 19)) AS BIGINT) AS strt,
                      UNNEST(list_transform(generate_series(1, len(t) - 19), i -> substr(t, i, 20))) AS gram
               FROM n WHERE len(t) >= 20),
         dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         m AS (SELECT doc_id, strt, strt + 19 AS en FROM g JOIN dup USING (gram)),
         mm AS (SELECT doc_id, strt, en,
                       MAX(en) OVER (PARTITION BY doc_id ORDER BY strt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM m),
         isl AS (SELECT doc_id, strt, en,
                        SUM(CASE WHEN pmax IS NULL OR strt > pmax + 1 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY strt) AS island
                 FROM mm)
         SELECT doc_id, MIN(strt) AS span_start, MAX(en) AS span_end,
                MAX(en) - MIN(strt) + 1 AS span_chars
         FROM isl GROUP BY doc_id, island""")),
    // C24g: char-grain span REMOVAL — the C24f cut at Lee et al.'s own
    // granularity: substring surgery over the merged char intervals,
    // survivors reassembled from the gap segments per row
    QuerySpec("dedup_substring_char_scrub", { (s, dir) =>
      DedupFunctions.scrubRepeatedSpansChar(Tables.documents(s, dir), "doc_id", "text", k = 20)
    }, Oracle(
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         g AS (SELECT doc_id,
                      CAST(UNNEST(generate_series(1, len(t) - 19)) AS BIGINT) AS strt,
                      UNNEST(list_transform(generate_series(1, len(t) - 19), i -> substr(t, i, 20))) AS gram
               FROM n WHERE len(t) >= 20),
         dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         m AS (SELECT doc_id, strt, strt + 19 AS en FROM g JOIN dup USING (gram)),
         mm AS (SELECT doc_id, strt, en,
                       MAX(en) OVER (PARTITION BY doc_id ORDER BY strt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM m),
         isl AS (SELECT doc_id, strt, en,
                        SUM(CASE WHEN pmax IS NULL OR strt > pmax + 1 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY strt) AS island
                 FROM mm),
         spans AS (SELECT doc_id, MIN(strt) AS s, MAX(en) AS e FROM isl GROUP BY doc_id, island),
         seq AS (SELECT doc_id, s, e, LAG(e) OVER (PARTITION BY doc_id ORDER BY s) AS pe FROM spans),
         gaps AS (SELECT doc_id, COALESCE(pe + 1, 1) AS gs, s - 1 AS ge FROM seq
                  UNION ALL
                  SELECT spans.doc_id, MAX(spans.e) + 1 AS gs, MAX(len(n.t)) AS ge
                  FROM spans JOIN n USING (doc_id) GROUP BY 1),
         kept AS (SELECT gaps.doc_id, gs, substr(n.t, CAST(gs AS INT), CAST(ge - gs + 1 AS INT)) AS seg
                  FROM gaps JOIN n USING (doc_id) WHERE ge >= gs),
         agg AS (SELECT doc_id, string_agg(seg, '' ORDER BY gs) AS ct FROM kept GROUP BY 1),
         sd AS (SELECT DISTINCT doc_id FROM spans)
         SELECT n.doc_id,
                CASE WHEN sd.doc_id IS NULL THEN n.t ELSE COALESCE(agg.ct, '') END AS clean_text,
                CAST(len(n.t) AS BIGINT) AS n_chars,
                CAST(len(n.t) - len(CASE WHEN sd.doc_id IS NULL THEN n.t ELSE COALESCE(agg.ct, '') END) AS BIGINT) AS n_removed_chars
         FROM n LEFT JOIN sd ON n.doc_id = sd.doc_id LEFT JOIN agg ON n.doc_id = agg.doc_id""")),
    // C24e: content-defined chunking dedup (LBFS/FastCDC family) —
    // insertion-robust chunk boundaries from local context hashes,
    // duplicated chunks found through the fingerprint count
    QuerySpec("dedup_cdc_chunks", { (s, dir) =>
      DedupFunctions.cdcChunks(Tables.documents(s, dir), "doc_id", "text")
    }, Oracle(
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         b AS (SELECT doc_id, t, len(t) AS nl,
                      list_filter(generate_series(16, len(t)),
                                  i -> substr(md5(substr(t, i - 15, 16)), 1, 1) = '0') AS bounds
               FROM n WHERE len(t) >= 16),
         z AS (SELECT doc_id, t,
                      list_prepend(1, list_transform(bounds, x -> x + 1)) AS starts,
                      list_append(bounds, nl) AS ends
               FROM b),
         u AS (SELECT doc_id, t,
                      CAST(UNNEST(starts) AS BIGINT) AS s,
                      CAST(UNNEST(ends) AS BIGINT) AS e
               FROM z),
         c AS (SELECT doc_id, s, e, md5(substr(t, s, e - s + 1)) AS fp FROM u WHERE s <= e),
         f AS (SELECT fp, COUNT(*) AS n_copies FROM c GROUP BY 1)
         SELECT doc_id, s AS span_start, e AS span_end, e - s + 1 AS span_chars, n_copies
         FROM c JOIN f USING (fp) WHERE n_copies > 1""")),
    // C24d: CCNet paragraph-grain dedup (Wenzek et al. 2020) on
    // 10-word blocks — first corpus-wide occurrence survives,
    // documents re-assembled from surviving blocks
    QuerySpec("dedup_paragraph", { (s, dir) =>
      DedupFunctions.paragraphDedup(Tables.documents(s, dir), "doc_id", "text")
    }, Oracle(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
         b AS (SELECT doc_id, CAST(i AS INT) AS blk,
                      array_to_string(ws[(i*10+1):((i+1)*10)], ' ') AS unit
               FROM w, UNNEST(range(0, CAST(CEIL(len(ws)/10.0) AS INT))) AS t(i)),
         k AS (SELECT doc_id, blk, unit,
                      row_number() OVER (PARTITION BY md5(unit) ORDER BY doc_id, blk) = 1 AS kept
               FROM b)
         SELECT doc_id, COUNT(*) AS n_blocks,
                COUNT(*) FILTER (WHERE kept) AS n_kept,
                CASE WHEN COUNT(*) FILTER (WHERE kept) > 0
                     THEN string_agg(unit, ' ' ORDER BY blk) FILTER (WHERE kept) END AS clean_text
         FROM k GROUP BY doc_id""")),
  )
}
