package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{CorpusFunctions, Materialize, TextFunctions}

import QueryFixtures._

/** Corpus-level queries: statistics, mixtures, sampling, sharding,
  * curricula and data selection over `documents`.
  */
object CorpusQueries {
  val specs: Seq[QuerySpec] = Seq(
    // C22: per-language corpus composition (docs, token/char volume,
    // exact length quantiles — the pre-mixing inspection step)
    QuerySpec("corpus_stats", { (s, dir) =>
      CorpusFunctions.corpusStats(Tables.documents(s, dir), col("lang"), col("text"))
    }, Oracle(
      """WITH b AS (SELECT lang AS stratum,
                           CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS nw,
                           CAST(length(text) AS BIGINT) AS nc
                    FROM documents)
         SELECT stratum, COUNT(*) AS n_docs,
                CAST(SUM(nw) AS BIGINT) AS total_words,
                CAST(SUM(nc) AS BIGINT) AS total_chars,
                quantile_cont(nc, 0.5) AS p50_chars,
                quantile_cont(nc, 0.95) AS p95_chars
         FROM b GROUP BY 1""")),
    // C56: deterministic shuffle-shard export plan — seeded md5
    // permutation, shard = key mod N, per-shard positions from a
    // shard-partitioned window (never a global sort)
    QuerySpec("corpus_shuffle_shards", { (s, dir) =>
      CorpusFunctions.shuffleShards(Tables.documents(s, dir), col("doc_id"), nShards = 8)
    }, Oracle(
      """WITH h AS (SELECT doc_id,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT) AS hv
                    FROM documents)
         SELECT doc_id, hv % 8 AS shard,
                CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
         FROM h""")),
    // C56b: MATERIALIZED shard export — writes one pos-ordered parquet
    // file per shard (repartition on shard + sortWithinPartitions +
    // partitionBy), re-reads the files, and manifests them; the oracle
    // recomputes the manifest from first principles, so a hash match
    // proves the write→read round trip preserved the permutation
    QuerySpec("corpus_shard_export", { (s, dir) =>
      // fresh per-call directory (concurrent Verify/Bench on one host
      // must not race an overwrite against a re-read), manifest
      // pinned so the files can be removed before returning
      val tmp = java.nio.file.Files.createTempDirectory("graft_shard_export_q").toFile
      val manifest = CorpusFunctions
        .shardManifest(
          CorpusFunctions.shuffleShardsExport(Tables.documents(s, dir), "doc_id", nShards = 8, tmp.getAbsolutePath + "/out")
        )
        .transform(Materialize.pin)
      def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
      rm(tmp)
      manifest
    }, Oracle(
      """WITH h AS (SELECT doc_id,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT) AS hv
                    FROM documents),
         p AS (SELECT doc_id, hv % 8 AS shard,
                      CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
               FROM h)
         SELECT shard, COUNT(*) AS n_docs, MAX(pos) AS last_pos,
                arg_min(doc_id, pos) AS first_doc, arg_max(doc_id, pos) AS last_doc
         FROM p GROUP BY 1""")),
    // C33: mixture planning — per-language keep-rates that achieve a
    // target training mixture with maximum data; feeds C23's sampler
    QuerySpec("corpus_mixture_plan", { (s, dir) =>
      CorpusFunctions.mixturePlan(
        Tables.documents(s, dir),
        col("lang"),
        col("text"),
        Map("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25),
      )
    }, Oracle(
      """WITH norm AS (SELECT lang, len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS nw FROM documents),
         counts AS (SELECT lang AS stratum, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS tokens FROM norm GROUP BY 1),
         tgt AS (SELECT * FROM (VALUES ('de', 0.25), ('en', 0.5), ('zh', 0.25)) AS t(stratum, target_share)),
         j AS (SELECT c.stratum, n_docs, tokens, target_share FROM counts c LEFT JOIN tgt USING (stratum)),
         ts AS (SELECT MIN(CAST(tokens AS DOUBLE) / target_share) AS t_star FROM j WHERE target_share IS NOT NULL)
         SELECT stratum, n_docs, tokens,
                CASE WHEN target_share IS NOT NULL AND CAST(tokens AS DOUBLE) / target_share <= t_star THEN 1000000
                     WHEN target_share IS NOT NULL THEN LEAST(1000000, CAST(FLOOR(1e6 * target_share * t_star / CAST(tokens AS DOUBLE)) AS BIGINT)) ELSE 0 END AS keep_rate_ppm,
                CASE WHEN target_share IS NOT NULL AND CAST(tokens AS DOUBLE) / target_share <= t_star THEN tokens
                     WHEN target_share IS NOT NULL THEN CAST(FLOOR(target_share * t_star) AS BIGINT) ELSE 0 END AS planned_tokens
         FROM j CROSS JOIN ts""")),
    // C33c: temperature (α = 0.5) mixture planning — target shares
    // derived from the corpus as q_s ∝ √tok_s (Conneau & Lample 2019),
    // sqrt is IEEE-exact so the whole plan oracles
    QuerySpec("corpus_mixture_temperature", { (s, dir) =>
      CorpusFunctions.temperatureMixturePlan(Tables.documents(s, dir), col("lang"), col("text"))
    }, Oracle(
      """WITH norm AS (SELECT lang, len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS nw FROM documents),
         counts AS (SELECT lang AS stratum, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS tokens FROM norm GROUP BY 1),
         r AS (SELECT *, CAST(FLOOR(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS BIGINT) AS rt_ppm FROM counts),
         tot AS (SELECT SUM(rt_ppm) AS total FROM r),
         sh AS (SELECT stratum, n_docs, tokens,
                       CAST(rt_ppm AS DOUBLE) / CAST(total AS DOUBLE) AS target_share
                FROM r CROSS JOIN tot),
         ts AS (SELECT MIN(CAST(tokens AS DOUBLE) / target_share) AS t_star FROM sh)
         SELECT stratum, n_docs, tokens, target_share,
                CASE WHEN CAST(tokens AS DOUBLE) / target_share <= t_star THEN 1000000
                     ELSE LEAST(1000000, CAST(FLOOR(1e6 * target_share * t_star / CAST(tokens AS DOUBLE)) AS BIGINT)) END AS keep_rate_ppm,
                CASE WHEN CAST(tokens AS DOUBLE) / target_share <= t_star THEN tokens
                     ELSE CAST(FLOOR(target_share * t_star) AS BIGINT) END AS planned_tokens
         FROM sh CROSS JOIN ts""")),
    // C33b: the plan APPLIED — mixturePlan rates (bounded per-stratum
    // driver summary) feeding the deterministic md5-threshold sampler
    QuerySpec("corpus_mixture_apply", { (s, dir) =>
      CorpusFunctions
        .mixtureSample(
          Tables.documents(s, dir),
          col("doc_id"),
          col("lang"),
          col("text"),
          Map("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25),
        )
        .select(col("doc_id"), col("lang"))
    }, Oracle(
      """WITH norm AS (SELECT lang, len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS nw FROM documents),
         counts AS (SELECT lang AS stratum, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS tokens FROM norm GROUP BY 1),
         tgt AS (SELECT * FROM (VALUES ('de', 0.25), ('en', 0.5), ('zh', 0.25)) AS t(stratum, target_share)),
         j AS (SELECT c.stratum, tokens, target_share FROM counts c LEFT JOIN tgt USING (stratum)),
         ts AS (SELECT MIN(CAST(tokens AS DOUBLE) / target_share) AS t_star FROM j WHERE target_share IS NOT NULL),
         plan AS (SELECT stratum,
                         CASE WHEN target_share IS NOT NULL AND CAST(tokens AS DOUBLE) / target_share <= t_star THEN 1000000
                              WHEN target_share IS NOT NULL THEN LEAST(1000000, CAST(FLOOR(1e6 * target_share * t_star / CAST(tokens AS DOUBLE)) AS BIGINT)) ELSE 0 END AS ppm
                  FROM j CROSS JOIN ts)
         SELECT d.doc_id, d.lang FROM documents d JOIN plan p ON d.lang = p.stratum
         WHERE p.ppm >= 1000000
            OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < printf('%08x', CAST(FLOOR(CAST(p.ppm AS DOUBLE) / 1e6 * 4294967296) AS BIGINT))""")),
    // C35: per-language lexical diversity — exact type/token stats
    // (vocab, hapax legomena, TTR), the corpus-quality screen
    QuerySpec("corpus_lexical_diversity", { (s, dir) =>
      CorpusFunctions.lexicalDiversity(Tables.documents(s, dir), col("lang"), col("text"))
    }, Oracle(
      """WITH toks AS (SELECT lang AS stratum, w
                       FROM (SELECT lang, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w FROM documents)
                       WHERE w <> ''),
         wc AS (SELECT stratum, w, COUNT(*) AS cnt FROM toks GROUP BY 1, 2)
         SELECT stratum, COUNT(*) AS vocab, CAST(SUM(cnt) AS BIGINT) AS tokens,
                CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
                CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS type_token_ratio,
                CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
         FROM wc GROUP BY 1""")),
    // C40: per-language tokenizer fertility (tokens/word, chars/token
    // over the deterministic regex-token proxy) — where the sequence
    // budget goes, the companion table to mixture planning
    QuerySpec("corpus_token_fertility", { (s, dir) =>
      CorpusFunctions.tokenFertility(Tables.documents(s, dir), col("lang"), col("text"))
    }, Oracle(
      """WITH t AS (SELECT lang,
                CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS w,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS tk,
                CAST(length(text) AS BIGINT) AS c
           FROM documents)
         SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(w) AS BIGINT) AS n_words,
                CAST(SUM(tk) AS BIGINT) AS n_tokens,
                CAST(SUM(c) AS BIGINT) AS n_chars,
                (1000000 * CAST(SUM(tk) AS BIGINT)) // CAST(SUM(w) AS BIGINT) AS tokens_per_word_ppm,
                (1000000 * CAST(SUM(c) AS BIGINT)) // CAST(SUM(tk) AS BIGINT) AS chars_per_token_ppm
         FROM t GROUP BY 1""")),
    // C53: document Pareto frontier — skyline over (quality, length):
    // the docs no other doc beats on both criteria, i.e. every
    // weighted-score selection's optimum at once; two-phase
    // distributed skyline (local frontiers → global pass)
    QuerySpec("corpus_skyline", { (s, dir) =>
      val scored = TextFunctions
        .qualityScore(Tables.documents(s, dir), col("text"))
        .select(
          col("doc_id"),
          floor(col("quality_score") * lit(1000000.0)).cast("long").as("quality_ppm"),
          col("n_words").cast("long").as("n_words"),
        )
      graft.operators.Skyline.skyline(scored, maximize = Seq("quality_ppm", "n_words"))
    }, Oracle(
      """WITH base AS (SELECT doc_id, text, length(text) AS n_chars,
                              string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                       FROM documents),
         s AS (SELECT doc_id,
                      CAST(FLOOR(1000000.0 * (
                        0.3 * (FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0)
                        + 0.3 * (1.0 - FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0)
                        + 0.4 * LEAST(CAST(len(w) AS DOUBLE) / 100.0, 1.0))) AS BIGINT) AS quality_ppm,
                      CAST(len(w) AS BIGINT) AS n_words
               FROM base)
         SELECT a.doc_id, a.quality_ppm, a.n_words FROM s a
         WHERE a.quality_ppm IS NOT NULL AND a.n_words IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM s b
                           WHERE b.quality_ppm >= a.quality_ppm AND b.n_words >= a.n_words
                             AND (b.quality_ppm > a.quality_ppm OR b.n_words > a.n_words))""")),
    // C52: dedup-saturation curve — per ingest batch, share of exact
    // fingerprints making their first corpus appearance ("is the next
    // crawl worth its cost")
    QuerySpec("corpus_novelty_curve", { (s, dir) =>
      CorpusFunctions.noveltyCurve(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """WITH b AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                           doc_id // 100 AS batch
                    FROM documents),
         f AS (SELECT fp, MIN(batch) AS batch FROM b GROUP BY 1),
         nf AS (SELECT batch, COUNT(*) AS n_new_fps FROM f GROUP BY 1),
         sz AS (SELECT batch, COUNT(*) AS n_docs FROM b GROUP BY 1)
         SELECT sz.batch, sz.n_docs, COALESCE(nf.n_new_fps, 0) AS n_new_fps,
                CAST(1000000 * COALESCE(nf.n_new_fps, 0) // sz.n_docs AS BIGINT) AS novelty_ppm
         FROM sz LEFT JOIN nf USING (batch)""")),
    // C50: mixture-weighted curriculum interleave — deterministic
    // easy→hard training order with weighted-fair-queueing virtual
    // time; emits the sort key, rank via bounded histogram (no
    // per-stratum window)
    QuerySpec("corpus_curriculum", { (s, dir) =>
      CorpusFunctions.curriculumInterleave(
        Tables.documents(s, dir),
        col("doc_id"),
        col("lang"),
        col("text"),
        weightsPpm = Map("en" -> 500000L, "zh" -> 200000L, "es" -> 150000L),
        defaultPpm = 100000L,
      )
    }, Oracle(
      """WITH d AS (SELECT doc_id, lang AS stratum,
                CAST(COALESCE(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 0) AS BIGINT) AS difficulty
           FROM documents),
         r AS (SELECT doc_id, stratum, difficulty,
                      CAST(row_number() OVER (PARTITION BY stratum ORDER BY difficulty, doc_id) AS BIGINT) AS rank_in_stratum
               FROM d)
         SELECT doc_id, stratum, difficulty, rank_in_stratum,
                CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT) AS weight_ppm,
                CAST(rank_in_stratum * (1000000000000
                     // CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT))
                     AS BIGINT) AS vt
         FROM r""")),
    // C50b: epoch-seeded curriculum — same structure, per-epoch
    // deterministic reshuffle within equal-difficulty cells (md5 of
    // doc_id#seed as the tiebreak)
    QuerySpec("corpus_curriculum_epoch", { (s, dir) =>
      CorpusFunctions.curriculumInterleave(
        Tables.documents(s, dir),
        col("doc_id"),
        col("lang"),
        col("text"),
        weightsPpm = Map("en" -> 500000L, "zh" -> 200000L, "es" -> 150000L),
        defaultPpm = 100000L,
        epochSeed = Some(7L),
      )
    }, Oracle(
      """WITH d AS (SELECT doc_id, lang AS stratum,
                CAST(COALESCE(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 0) AS BIGINT) AS difficulty
           FROM documents),
         r AS (SELECT doc_id, stratum, difficulty,
                      CAST(row_number() OVER (PARTITION BY stratum
                             ORDER BY difficulty, md5(concat_ws('#', CAST(doc_id AS VARCHAR), '7')), doc_id) AS BIGINT) AS rank_in_stratum
               FROM d)
         SELECT doc_id, stratum, difficulty, rank_in_stratum,
                CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT) AS weight_ppm,
                CAST(rank_in_stratum * (1000000000000
                     // CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT))
                     AS BIGINT) AS vt
         FROM r""")),
    // C30: language-ID confusion matrix — predicted vs labeled lang,
    // the quality audit of the C8 heuristic over the whole corpus.
    // langId preserves every input column (including `lang`), so the
    // matrix is one scan + one tiny aggregate — no doc_id join-back
    QuerySpec("corpus_lang_confusion", { (s, dir) =>
      TextFunctions
        .langId(Tables.documents(s, dir), col("text"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    }, Oracle(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         sc AS (SELECT doc_id,
                  len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS s_en,
                  len(list_filter(w, t -> t IN ('der', 'die', 'und', 'das', 'ist'))) AS s_de,
                  len(list_filter(w, t -> t IN ('el', 'la', 'los', 'es', 'y'))) AS s_es,
                  len(list_filter(w, t -> t IN ('le', 'les', 'est', 'et', 'une'))) AS s_fr,
                  len(list_filter(w, t -> t IN ('de', 'shi', 'bu', 'le', 'wo'))) AS s_zh
                FROM w),
         pred AS (SELECT doc_id,
                CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, s_zh) THEN 'en'
                     WHEN s_de >= GREATEST(s_es, s_fr, s_zh) THEN 'de'
                     WHEN s_es >= GREATEST(s_fr, s_zh) THEN 'es'
                     WHEN s_fr >= s_zh THEN 'fr'
                     ELSE 'zh' END AS pred_lang
                FROM sc)
         SELECT d.lang, pred.pred_lang, COUNT(*) AS n
         FROM pred JOIN documents d USING (doc_id)
         GROUP BY 1, 2""")),
    // C29: per-source (domain) composition + exact-duplication rate
    QuerySpec("corpus_domain_stats", { (s, dir) =>
      CorpusFunctions.domainStats(Tables.documents(s, dir), col("source"), col("lang"), col("doc_id"), col("text"))
    }, Oracle(
      """WITH d AS (SELECT source, lang, CAST(length(text) AS BIGINT) AS nc,
                           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                    FROM documents)
         SELECT source, COUNT(*) AS n_docs, CAST(SUM(nc) AS BIGINT) AS total_chars,
                COUNT(DISTINCT lang) AS n_langs,
                COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs
         FROM d GROUP BY 1""")),
    // C36: corpus datacard — per-source composition + token share +
    // dup rate + mean quality, the publishable curation report
    QuerySpec("corpus_datacard", { (s, dir) =>
      CorpusFunctions.datacard(Tables.documents(s, dir), col("source"), col("lang"), col("doc_id"), col("text"))
    }, Oracle(
      """WITH base AS (
           SELECT source, lang, text,
                  length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
           FROM documents),
         feat AS (
           SELECT source, lang, fp,
                  CAST(n_chars AS BIGINT) AS n_chars,
                  CAST(len(w) AS BIGINT) AS n_words,
                  0.3 * (FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0)
                  + 0.3 * (1.0 - FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0)
                  + 0.4 * LEAST(CAST(len(w) AS DOUBLE) / 100.0, 1.0) AS q
           FROM base),
         src AS (
           SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
                  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                  CAST(SUM(n_words) AS BIGINT) AS total_words,
                  COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs,
                  CAST(SUM(CAST(FLOOR(q * 1000000.0) AS BIGINT)) AS BIGINT) AS qsum
           FROM feat GROUP BY 1),
         tot AS (SELECT CAST(SUM(total_words) AS BIGINT) AS corpus_words FROM src)
         SELECT source, n_docs, n_langs, total_chars, total_words, n_dup_docs,
                (1000000 * n_dup_docs) // n_docs AS dup_ppm,
                (1000000 * total_words) // corpus_words AS token_share_ppm,
                qsum // n_docs AS mean_quality_micro
         FROM src, tot""")),
    // C37: cross-source near-dup overlap matrix — prefix-Jaccard pairs
    // mapped to ordered source pairs, count + integer-micro mean J
    QuerySpec("corpus_source_overlap", { (s, dir) =>
      CorpusFunctions.sourceOverlap(Tables.documents(s, dir), "doc_id", "source", "text")
    }, Oracle(
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM w WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b, i, na.n + nb.n - i AS u
                   FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
                   WHERE i * 5 >= (na.n + nb.n - i) * 4),
         lab AS (SELECT LEAST(da.source, db.source) AS source_a,
                        GREATEST(da.source, db.source) AS source_b, i, u
                 FROM pairs
                 JOIN documents da ON doc_a = da.doc_id
                 JOIN documents db ON doc_b = db.doc_id)
         SELECT source_a, source_b, COUNT(*) AS n_pairs,
                CAST(SUM((1000000 * i) // u) // COUNT(*) AS BIGINT) AS mean_jaccard_micro
         FROM lab GROUP BY 1, 2""")),
    // C37b: pairwise language-vocabulary overlap — exact intersection/
    // union/Jaccard per lang pair (the lexical relatedness screen)
    QuerySpec("corpus_vocab_overlap", { (s, dir) =>
      CorpusFunctions.vocabOverlap(Tables.documents(s, dir), col("lang"), col("text"))
    }, Oracle(
      """WITH vw0 AS (SELECT DISTINCT lang AS stratum,
                            unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
                     FROM documents),
         vw AS (SELECT * FROM vw0 WHERE w <> ''),
         sizes AS (SELECT stratum, COUNT(*) AS vocab FROM vw GROUP BY 1),
         inter AS (SELECT a.stratum AS stratum_a, b.stratum AS stratum_b, COUNT(*) AS n_common
                   FROM vw a JOIN vw b USING (w)
                   WHERE a.stratum < b.stratum
                   GROUP BY 1, 2)
         SELECT stratum_a, stratum_b,
                CAST(n_common AS BIGINT) AS n_common,
                CAST(sa.vocab + sb.vocab - n_common AS BIGINT) AS n_union,
                (1000000 * CAST(n_common AS BIGINT)) // CAST(sa.vocab + sb.vocab - n_common AS BIGINT) AS jaccard_ppm
         FROM inter
         JOIN sizes sa ON sa.stratum = inter.stratum_a
         JOIN sizes sb ON sb.stratum = inter.stratum_b""")),
    // C43: DSIR importance resampling (Xie et al. 2023) — hashed-bucket
    // log-likelihood-ratio score of each non-target doc against the
    // `en` target distribution, kept by a deterministic Gumbel draw
    QuerySpec("corpus_dsir_select", { (s, dir) =>
      CorpusFunctions.dsirSelect(
        Tables.documents(s, dir),
        col("doc_id"),
        col("text"),
        col("lang") === "en",
        tauPpm = 1000000L,
      )
    }, Oracle(
      """WITH w AS (
           SELECT doc_id, (lang = 'en') AS t,
                  unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
           FROM documents),
         pb AS (SELECT doc_id, t, substr(md5(w), 1, 2) AS b, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
         st AS (SELECT b,
                       SUM(CASE WHEN t THEN c ELSE 0 END) AS ct,
                       SUM(CASE WHEN NOT t THEN c ELSE 0 END) AS cr
                FROM pb GROUP BY 1),
         rt AS (SELECT b,
                       CAST(FLOOR(ROUND(LN( (CAST(ct + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE)) /
                                            (CAST(cr + 1 AS DOUBLE) / CAST(tr + 256 AS DOUBLE)) ), 6) * 1e6) AS BIGINT) AS lr_ppm
                FROM (SELECT b, ct, cr, SUM(ct) OVER () AS tt, SUM(cr) OVER () AS tr FROM st)),
         sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, CAST(SUM(c * lr_ppm) AS BIGINT) AS dsir_ppm
                FROM pb JOIN rt USING (b) WHERE NOT t GROUP BY 1)
         SELECT doc_id, n_words, dsir_ppm,
                dsir_ppm + CAST(FLOOR(ROUND(-LN(-LN((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)), 6) * 1e6) AS BIGINT) >= 1000000 AS keep
         FROM sc""")),
    // C43b: per-source DSIR report — the decision-level view of C43:
    // which raw sources look most like the target distribution, and
    // what fraction each would contribute after resampling
    QuerySpec("corpus_dsir_by_source", { (s, dir) =>
      // `source` rides dsirSelect's passthrough — one scan of
      // documents, no corpus-wide doc_id join-back
      CorpusFunctions
        .dsirSelect(
          Tables.documents(s, dir),
          col("doc_id"),
          col("text"),
          col("lang") === "en",
          tauPpm = 1000000L,
          passthrough = Seq("source"),
        )
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("dsir_ppm")).as("sum_dsir_ppm"),
          sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        )
        // floored exact-input IEEE division (sums go negative — integer
        // div/`//` disagree between engines on negative operands)
        .withColumn(
          "mean_dsir_ppm",
          floor(col("sum_dsir_ppm").cast("double") / col("n_docs").cast("double")).cast("long"),
        )
    }, Oracle(
      """WITH w AS (
           SELECT doc_id, (lang = 'en') AS t,
                  unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
           FROM documents),
         pb AS (SELECT doc_id, t, substr(md5(w), 1, 2) AS b, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
         st AS (SELECT b,
                       SUM(CASE WHEN t THEN c ELSE 0 END) AS ct,
                       SUM(CASE WHEN NOT t THEN c ELSE 0 END) AS cr
                FROM pb GROUP BY 1),
         rt AS (SELECT b,
                       CAST(FLOOR(ROUND(LN( (CAST(ct + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE)) /
                                            (CAST(cr + 1 AS DOUBLE) / CAST(tr + 256 AS DOUBLE)) ), 6) * 1e6) AS BIGINT) AS lr_ppm
                FROM (SELECT b, ct, cr, SUM(ct) OVER () AS tt, SUM(cr) OVER () AS tr FROM st)),
         sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, CAST(SUM(c * lr_ppm) AS BIGINT) AS dsir_ppm
                FROM pb JOIN rt USING (b) WHERE NOT t GROUP BY 1),
         sel AS (SELECT doc_id, n_words, dsir_ppm,
                        dsir_ppm + CAST(FLOOR(ROUND(-LN(-LN((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)), 6) * 1e6) AS BIGINT) >= 1000000 AS keep
                 FROM sc)
         SELECT d.source,
                COUNT(*) AS n_docs,
                CAST(SUM(sel.n_words) AS BIGINT) AS n_words,
                CAST(SUM(sel.dsir_ppm) AS BIGINT) AS sum_dsir_ppm,
                CAST(SUM(CASE WHEN sel.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(FLOOR(CAST(SUM(sel.dsir_ppm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mean_dsir_ppm
         FROM sel JOIN documents d USING (doc_id)
         GROUP BY 1""")),
    // C39: per-language doc-length histogram — the packing/mixture
    // planning input (50-word bins, open top bin)
    QuerySpec("corpus_length_histogram", { (s, dir) =>
      CorpusFunctions.lengthHistogram(Tables.documents(s, dir), col("lang"), col("text"))
    }, Oracle(
      """WITH w AS (SELECT lang AS stratum,
                           CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS nw
                    FROM documents),
         b AS (SELECT stratum, LEAST(CAST(FLOOR(CAST(nw AS DOUBLE) / 50) AS BIGINT), 19) AS bin, nw FROM w)
         SELECT stratum, bin, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS total_words,
                bin * 50 AS bin_start_words
         FROM b GROUP BY 1, 2""")),
    // C23: deterministic stratified sampling — down-weight dominant
    // strata by content-stable hash (en keeps 1/4, zh 1/2, rest all)
    QuerySpec("corpus_sample_stratified", { (s, dir) =>
      CorpusFunctions
        .stratifiedSample(
          Tables.documents(s, dir),
          col("doc_id"),
          col("lang"),
          Map("en" -> 0.25, "zh" -> 0.5),
        )
        .select(col("doc_id"), col("lang"))
    }, Oracle(
      """SELECT doc_id, lang FROM documents
         WHERE CASE WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
                    WHEN lang = 'zh' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
                    ELSE TRUE END""")),
  )
}
