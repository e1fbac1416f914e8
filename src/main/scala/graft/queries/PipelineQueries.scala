package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{CorpusFunctions, DedupFunctions, TextFunctions}

import QueryFixtures._

/** End-to-end curation pipelines that chain the text, dedup and corpus
  * operators into one plan each.
  */
object PipelineQueries {
  val specs: Seq[QuerySpec] = Seq(
    // C55: the canonical CCNet pipeline in the paper's own order —
    // exact dedup → langid filter → self-trained perplexity bucket
    // gate — composed end to end as one hash-verified plan
    QuerySpec("pipeline_ccnet", { (s, dir) =>
      CorpusFunctions.ccnetCurate(Tables.documents(s, dir), "doc_id", "text", keepLang = "en", dropFrac = 0.1)
    }, Oracle(
      """WITH reps AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                              MIN(doc_id) AS rep_id, MIN(text) AS t, COUNT(*) AS n_copies
                       FROM documents GROUP BY 1),
         lw AS (SELECT rep_id, fp, n_copies, t,
                       string_split(trim(regexp_replace(lower(t), '\s+', ' ', 'g')), ' ') AS w
                FROM reps),
         lid AS (SELECT rep_id, fp, n_copies, t, w,
                  len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS s_en,
                  len(list_filter(w, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS s_de,
                  len(list_filter(w, x -> x IN ('el', 'la', 'los', 'es', 'y'))) AS s_es,
                  len(list_filter(w, x -> x IN ('le', 'les', 'est', 'et', 'une'))) AS s_fr,
                  len(list_filter(w, x -> x IN ('de', 'shi', 'bu', 'le', 'wo'))) AS s_zh
                 FROM lw),
         inlang AS (SELECT rep_id, fp, n_copies, w FROM lid
                    WHERE CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, s_zh) THEN 'en'
                               WHEN s_de >= GREATEST(s_es, s_fr, s_zh) THEN 'de'
                               WHEN s_es >= GREATEST(s_fr, s_zh) THEN 'es'
                               WHEN s_fr >= s_zh THEN 'fr'
                               ELSE 'zh' END = 'en'),
         bgl AS (SELECT rep_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM inlang WHERE len(w) >= 2),
         bg AS (SELECT rep_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT x) AS v FROM (SELECT w1 AS x FROM bg UNION ALL SELECT w2 AS x FROM bg)),
         sc AS (SELECT bg.rep_id,
                       CAST(FLOOR(1e12 * (CAST(cb.cb + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))) AS BIGINT) AS p
                FROM bg JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
         scores AS (SELECT rep_id, COUNT(*) AS n_bigrams,
                           FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS lm_prob_ppm
                    FROM sc GROUP BY 1),
         hist AS (SELECT CAST(FLOOR(lm_prob_ppm) AS BIGINT) AS b, COUNT(*) AS n FROM scores GROUP BY 1),
         k AS (SELECT FLOOR(SUM(n) * 0.1) AS k FROM hist),
         cum AS (SELECT b, SUM(n) OVER (ORDER BY b) AS cum FROM hist),
         thr AS (SELECT MAX(b) AS t FROM cum CROSS JOIN k WHERE cum <= k)
         SELECT s.rep_id, i.fp, i.n_copies, s.n_bigrams, s.lm_prob_ppm
         FROM scores s CROSS JOIN thr JOIN inlang i ON s.rep_id = i.rep_id
         WHERE CAST(FLOOR(s.lm_prob_ppm) AS BIGINT) > COALESCE(thr.t, -1)""")),
    // C15: the composed training-data pipeline — quality gate → langid
    // → near-dup removal (keep group representative) → chunking. Every
    // stage is an operator proven above; this query proves they chain.
    QuerySpec("pipeline_clean_corpus", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scored = TextFunctions
        .qualityScore(TextFunctions.langId(docs, col("text")), col("text"))
        .select(col("doc_id"), col("text"), col("pred_lang"), col("quality_score"))
      // kept feeds both the shingle index (via jaccardPairsPrefix) and
      // the final anti-join + chunking — cache the filtered frame so the
      // regex-heavy quality/langid scoring runs once
      val kept = scored.where(col("quality_score") > 0.45 && col("pred_lang") === "en").cache()
      val dupes = DedupFunctions
        .dedupGroups(DedupFunctions.jaccardPairsPrefix(kept, "doc_id", "text"))
        .where(col("doc_id") =!= col("group_id"))
      val reps = kept.join(dupes, Seq("doc_id"), "left_anti")
      TextFunctions
        .chunk(reps, col("doc_id"), col("text"))
        .withColumn("chunk_id", col("chunk_id").cast("long"))
    }, Oracle(
      """WITH RECURSIVE w0 AS (
           SELECT doc_id, text, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w,
                  length(text) AS n_chars
           FROM documents),
         scored AS (
           SELECT doc_id, text, w,
                  CASE WHEN len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) >= GREATEST(len(list_filter(w, t -> t IN ('der', 'die', 'und', 'das', 'ist'))), len(list_filter(w, t -> t IN ('el', 'la', 'los', 'es', 'y'))), len(list_filter(w, t -> t IN ('le', 'les', 'est', 'et', 'une'))), len(list_filter(w, t -> t IN ('de', 'shi', 'bu', 'le', 'wo')))) THEN 'en' ELSE 'other' END AS pred_lang,
                  0.3 * (FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0)
                  + 0.3 * (1.0 - FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0)
                  + 0.4 * LEAST(CAST(len(w) AS DOUBLE) / 100.0, 1.0) AS quality_score
           FROM w0),
         kept AS (SELECT doc_id, text, w FROM scored WHERE quality_score > 0.45 AND pred_lang = 'en'),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM kept WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b FROM inter
                   JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
                   WHERE i * 5 >= (na.n + nb.n - i) * 4),
         und AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM und UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         dupes AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING LEAST(a, MIN(b)) <> a),
         reps AS (SELECT doc_id, w FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dupes)),
         c AS (SELECT doc_id,
                 generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1) AS ids,
                 list_transform(generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1),
                                i -> array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' ')) AS chunks
               FROM reps)
         SELECT doc_id, CAST(UNNEST(ids) AS BIGINT) AS chunk_id, UNNEST(chunks) AS chunk_text,
                CAST(len(string_split(UNNEST(chunks), ' ')) AS BIGINT) AS n_words
         FROM c""")),
    // C51: the ordering pipeline — quality gate → exact dedup →
    // mixture-weighted curriculum, one plan from raw corpus to the
    // deterministic training order (the consumption-side closer of
    // the curation chain: clean_corpus dedups, curate publishes,
    // order_corpus schedules)
    QuerySpec("pipeline_order_corpus", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val kept = TextFunctions
        .qualityScore(docs, col("text"))
        .where(col("quality_score") > 0.45)
        .select(col("doc_id"), col("lang"), col("text"))
      val reps = DedupFunctions.exactGroups(kept, "doc_id", "text").select(col("rep_id").as("doc_id"))
      CorpusFunctions.curriculumInterleave(
        kept.join(reps, Seq("doc_id")),
        col("doc_id"),
        col("lang"),
        col("text"),
        weightsPpm = Map("en" -> 500000L, "zh" -> 200000L, "es" -> 150000L),
        defaultPpm = 100000L,
      )
    }, Oracle(
      """WITH base AS (
           SELECT doc_id, lang, text, length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         feat AS (
           SELECT doc_id, lang, text, w, len(w) AS n_words,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS punct_ratio,
                  FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS stopword_ratio
           FROM base),
         kept AS (
           SELECT doc_id, lang, text, w FROM feat
           WHERE 0.3 * stopword_ratio + 0.3 * (1.0 - punct_ratio) + 0.4 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) > 0.45),
         reps AS (
           SELECT MIN(doc_id) AS doc_id
           FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM kept)
           GROUP BY fp),
         d AS (SELECT k.doc_id, k.lang AS stratum, CAST(COALESCE(len(k.w), 0) AS BIGINT) AS difficulty
               FROM kept k JOIN reps USING (doc_id)),
         r AS (SELECT doc_id, stratum, difficulty,
                      CAST(row_number() OVER (PARTITION BY stratum ORDER BY difficulty, doc_id) AS BIGINT) AS rank_in_stratum
               FROM d)
         SELECT doc_id, stratum, difficulty, rank_in_stratum,
                CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT) AS weight_ppm,
                CAST(rank_in_stratum * (1000000000000
                     // CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT))
                     AS BIGINT) AS vt
         FROM r""")),
    // C21: the curation pipeline — PII scrub → quality gate →
    // benchmark decontamination → deterministic split assignment,
    // chained in one plan (the publishing-side dual of
    // pipeline_clean_corpus's dedup-centric chain)
    QuerySpec("pipeline_curate", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scrubbed = TextFunctions
        .piiScrub(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("clean_text").as("text"))
      val kept = TextFunctions
        .qualityScore(scrubbed, col("text"))
        .where(col("quality_score") > 0.45)
        .select(col("doc_id"), col("text"))
      val decon = TextFunctions.decontaminate(
        kept.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0),
        col("doc_id"),
        col("text"),
      )
      TextFunctions
        .hashSplit(kept.join(decon.where(!col("contaminated")).select("doc_id"), Seq("doc_id")), col("doc_id"))
        .select(col("doc_id"), col("split"))
    }, Oracle(
      """WITH scrub AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                    'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text
           FROM documents),
         base AS (
           SELECT doc_id, text, length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM scrub),
         feat AS (
           SELECT doc_id, w, len(w) AS n_words,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS punct_ratio,
                  FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS stopword_ratio
           FROM base),
         kept AS (
           SELECT doc_id, w FROM feat
           WHERE 0.3 * stopword_ratio + 0.3 * (1.0 - punct_ratio) + 0.4 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) > 0.45),
         bnorm AS (
           SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents WHERE doc_id % 20 = 0),
         bench AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
           FROM bnorm WHERE len(w) >= 5),
         csh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
           FROM kept WHERE doc_id % 20 <> 0 AND len(w) >= 5),
         contaminated AS (SELECT DISTINCT a.doc_id FROM csh a JOIN bench b ON a.s = b.s)
         SELECT k.doc_id,
                CASE WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b','c','d') THEN 'train'
                     WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1) = 'e' THEN 'val'
                     ELSE 'test' END AS split
         FROM kept k
         WHERE k.doc_id % 20 <> 0 AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)""")),
    // C57: the end-to-end training-export mega-pipeline — curate (PII
    // scrub → quality gate → decontamination → train split) → mixture
    // apply (plan joined back, zero driver round trips) → curriculum
    // schedule → shuffle-shard assignment, composed as ONE lazy plan:
    // the closer that proves the pieces compose without materializing
    QuerySpec("pipeline_train_export", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scrubbed = TextFunctions
        .piiScrub(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("clean_text").as("text"))
      val kept = TextFunctions
        .qualityScore(scrubbed, col("text"))
        .where(col("quality_score") > 0.45)
        .select(col("doc_id"), col("text"))
      val decon = TextFunctions.decontaminate(
        kept.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0),
        col("doc_id"),
        col("text"),
      )
      val train = TextFunctions
        .hashSplit(kept.join(decon.where(!col("contaminated")).select("doc_id"), Seq("doc_id")), col("doc_id"))
        .where(col("split") === "train")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("text"))
        // the one checkpointed intermediate (the pipeline_clean_corpus
        // discipline): the curate chain (regex scrub + quality + decon
        // shingle join) feeds FIVE downstream scans — the mixture
        // plan's count aggregate, the mixed filter, the curriculum
        // docs + histogram, and the shard permutation; without the
        // cut it re-executes for each (measured 9.3 s vs ~4 s)
        .localCheckpoint()
      val mixed = CorpusFunctions
        .mixtureSampleJoined(train, col("doc_id"), col("lang"), col("text"), Map("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25))
      val sched = CorpusFunctions.curriculumInterleave(
        mixed,
        col("doc_id"),
        col("lang"),
        col("text"),
        weightsPpm = Map("en" -> 500000L, "zh" -> 200000L, "es" -> 150000L),
        defaultPpm = 100000L,
      )
      CorpusFunctions
        .shuffleShards(mixed, col("doc_id"), nShards = 8)
        .join(sched, Seq("doc_id"))
        .select(col("doc_id"), col("stratum"), col("difficulty"), col("vt"), col("shard"), col("pos"))
    }, Oracle(
      """WITH scrub AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                    'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text
           FROM documents),
         base AS (
           SELECT doc_id, text, length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM scrub),
         feat AS (
           SELECT doc_id, w, len(w) AS n_words,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS punct_ratio,
                  FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS stopword_ratio
           FROM base),
         kept AS (
           SELECT doc_id, w FROM feat
           WHERE 0.3 * stopword_ratio + 0.3 * (1.0 - punct_ratio) + 0.4 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) > 0.45),
         bnorm AS (
           SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents WHERE doc_id % 20 = 0),
         bench AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
           FROM bnorm WHERE len(w) >= 5),
         csh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
           FROM kept WHERE doc_id % 20 <> 0 AND len(w) >= 5),
         contaminated AS (SELECT DISTINCT a.doc_id FROM csh a JOIN bench b ON a.s = b.s),
         train AS (
           SELECT k.doc_id, d.lang, k.w
           FROM kept k JOIN documents d USING (doc_id)
           WHERE k.doc_id % 20 <> 0 AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)
             AND substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b','c','d')),
         counts AS (SELECT lang AS stratum, CAST(SUM(len(w)) AS BIGINT) AS tokens FROM train GROUP BY 1),
         tgt AS (SELECT * FROM (VALUES ('de', 0.25), ('en', 0.5), ('zh', 0.25)) AS t(stratum, target_share)),
         j AS (SELECT c.stratum, tokens, target_share FROM counts c LEFT JOIN tgt USING (stratum)),
         ts AS (SELECT MIN(CAST(tokens AS DOUBLE) / target_share) AS t_star FROM j WHERE target_share IS NOT NULL),
         plan AS (SELECT stratum,
                         CASE WHEN target_share IS NOT NULL AND CAST(tokens AS DOUBLE) / target_share <= t_star THEN 1000000
                              WHEN target_share IS NOT NULL THEN LEAST(1000000, CAST(FLOOR(1e6 * target_share * t_star / CAST(tokens AS DOUBLE)) AS BIGINT)) ELSE 0 END AS ppm
                  FROM j CROSS JOIN ts),
         mixed AS (SELECT t.doc_id, t.lang, t.w FROM train t JOIN plan p ON t.lang = p.stratum
                   WHERE p.ppm >= 1000000
                      OR substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) < printf('%08x', CAST(FLOOR(CAST(p.ppm AS DOUBLE) / 1e6 * 4294967296) AS BIGINT))),
         sched0 AS (SELECT doc_id, lang AS stratum, CAST(COALESCE(len(w), 0) AS BIGINT) AS difficulty FROM mixed),
         r AS (SELECT doc_id, stratum, difficulty,
                      CAST(row_number() OVER (PARTITION BY stratum ORDER BY difficulty, doc_id) AS BIGINT) AS rank_in_stratum
               FROM sched0),
         sched AS (SELECT doc_id, stratum, difficulty,
                          CAST(rank_in_stratum * (1000000000000
                               // CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT))
                               AS BIGINT) AS vt
                   FROM r),
         h AS (SELECT doc_id, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT) AS hv FROM mixed),
         shards AS (SELECT doc_id, hv % 8 AS shard,
                           CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
                    FROM h)
         SELECT s.doc_id, s.stratum, s.difficulty, s.vt, sh.shard, sh.pos
         FROM sched s JOIN shards sh USING (doc_id)""")),
  )
}
