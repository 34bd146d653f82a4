package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Bpe, Chunking, Classifier, Corpus, Dedup, Multimodal, Similarity, TextOps}
import ExtQueries._

/**
 * Text-analysis registry rows: quality scoring, language id,
 * entropy/LM scoring, repetition and Gopher signals, TF-IDF,
 * boilerplate and sentence work over the documents fixture.
 *
 * Split from ExtQueries by family (zero behavior change) — shared
 * fixture builders and DuckDB oracle fragments stay in [[ExtQueries]].
 */
object ExtTextQueries {

  def defs: Seq[QueryDef] = Seq(


    // ---- Text analysis ------------------------------------------------

    // Token Shannon entropy — the low-entropy tail is boilerplate /
    // keyword-stuffed text that length and stopword gates miss. Shape:
    // explode → two hash aggregates (H = ln n − Σc·ln c / n).
    QueryDef("ext_token_entropy", (s, dir) =>
      TextOps.tokenEntropyFrame(Tables.documents(s, dir), "doc_id", "text"),
      Some(s"""WITH t AS (SELECT doc_id, unnest($DuckToks) AS tok FROM documents),
        c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          round(ln(sum(c)) - sum(c * ln(c)) / sum(c) + 1e-9, 6) AS entropy
        FROM c GROUP BY doc_id""")),


    // Zipf exponent per source (OLS slope of ln-freq on ln-rank,
    // negated): the corpus-health diagnostic that catches template /
    // machine-generated sources whose frequency curve bends away from
    // the natural-text α ≈ 1. Per-source rank window + the engine's own
    // regr_slope (cross-engine parity established by a21_regr_slope).
    QueryDef("ext_zipf_alpha", (s, dir) =>
      Corpus.zipfAlpha(Tables.documents(s, dir), "source", "text"),
      Some(s"""WITH t AS (SELECT source, unnest($DuckToks) AS tok FROM documents),
        c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
          FROM t GROUP BY 1, 2),
        r AS (SELECT source, c, row_number() OVER (PARTITION BY source
            ORDER BY c DESC, tok) AS r FROM c)
      SELECT source, CAST(count(*) AS BIGINT) AS vocab_size,
        round(-regr_slope(ln(c), ln(r)) + 1e-9, 6) AS alpha
      FROM r WHERE r <= 1000 GROUP BY source""")),


    // Corpus-bigram LM score — deterministic stand-in for the KenLM
    // perplexity gate: mean ln P(w2|w1) under the corpus's own bigram
    // counts; rare/garbled transitions score low.
    QueryDef("ext_lm_score", (s, dir) =>
      TextOps.lmScoreFrame(Tables.documents(s, dir), "doc_id", "text"),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
        b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg FROM t),
        bb AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b),
        cb AS (SELECT w1, w2, count(*) AS c2 FROM bb GROUP BY 1, 2),
        cu AS (SELECT w1, count(*) AS c1 FROM bb GROUP BY 1)
        SELECT doc_id, count(*) AS n_bigrams,
          round(avg(ln(CAST(c2 AS DOUBLE) / c1)) + 1e-9, 6) AS lm_score
        FROM bb JOIN cb USING (w1, w2) JOIN cu USING (w1)
        GROUP BY doc_id""")),


    // Interpolated Kneser-Ney bigram scoring (D = 0.75): the smoothed
    // upgrade of ext_lm_score — absolute discounting plus the
    // continuation-probability backoff (a word scores by how many
    // contexts it follows). The oracle rebuilds the identical count
    // tables and the term-for-term identical probability expression.
    QueryDef("ext_lm_kn_score", (s, dir) =>
      TextOps.knScoreFrame(Tables.documents(s, dir), "doc_id", "text"),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
        b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg FROM t),
        bb AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b),
        cb AS (SELECT w1, w2, count(*) AS c2 FROM bb GROUP BY 1, 2),
        cu AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS t1
          FROM cb GROUP BY 1),
        ct AS (SELECT w2, count(*) AS t2 FROM cb GROUP BY 1),
        tt AS (SELECT count(*) AS tot FROM cb)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          round(avg(ln(
            greatest(CAST(c2 AS DOUBLE) - 0.75, 0.0) / c1
            + 0.75 * t1 / c1 * (CAST(t2 AS DOUBLE) / tot))) + 1e-9, 6)
            AS kn_score
        FROM bb JOIN cb USING (w1, w2) JOIN cu USING (w1) JOIN ct USING (w2)
          CROSS JOIN tt
        GROUP BY doc_id""")),


    // CCNet/LLaMA-style perplexity-bucketed sampling: LM-score every doc,
    // cut the corpus into quartiles at EXACT percentile thresholds
    // (aggregated + broadcast — no global ntile window, the shape that
    // survives 100 TB), keep the top quartile whole and downsample the
    // rest at 1/2, 1/4, 1/8 via the deterministic md5 cell gate. Spark
    // exact percentile == DuckDB quantile_cont (both linear
    // interpolation); scores are fp-stabilized before the cut.
    QueryDef("ext_ppl_bucket_mixture", (s, dir) => {
      val scored = TextOps.lmScoreFrame(Tables.documents(s, dir), "doc_id", "text")
        .transform(graft.core.CacheRegistry.persistTracked)
      val qs = scored.agg(
        expr("percentile(lm_score, 0.25D)").as("q25"),
        expr("percentile(lm_score, 0.5D)").as("q50"),
        expr("percentile(lm_score, 0.75D)").as("q75"))
      scored.crossJoin(broadcast(qs))
        .withColumn("bucket",
          when(col("lm_score") >= col("q75"), 1L)
            .when(col("lm_score") >= col("q50"), 2L)
            .when(col("lm_score") >= col("q25"), 3L)
            .otherwise(4L))
        .filter(col("bucket") === 1 ||
          (col("bucket") === 2 && Corpus.hashCell(col("doc_id")) < "80") ||
          (col("bucket") === 3 && Corpus.hashCell(col("doc_id")) < "40") ||
          (col("bucket") === 4 && Corpus.hashCell(col("doc_id")) < "20"))
        .select(col("doc_id"), col("bucket"), col("lm_score"))
    }, Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
        b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg FROM t),
        bb AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b),
        cb AS (SELECT w1, w2, count(*) AS c2 FROM bb GROUP BY 1, 2),
        cu AS (SELECT w1, count(*) AS c1 FROM bb GROUP BY 1),
        sc AS (SELECT doc_id,
            round(avg(ln(CAST(c2 AS DOUBLE) / c1)) + 1e-9, 6) AS lm_score
          FROM bb JOIN cb USING (w1, w2) JOIN cu USING (w1)
          GROUP BY doc_id),
        q AS (SELECT quantile_cont(lm_score, 0.25) AS q25,
            quantile_cont(lm_score, 0.50) AS q50,
            quantile_cont(lm_score, 0.75) AS q75 FROM sc),
        bk AS (SELECT doc_id, lm_score,
            CAST(CASE WHEN lm_score >= q75 THEN 1
                 WHEN lm_score >= q50 THEN 2
                 WHEN lm_score >= q25 THEN 3 ELSE 4 END AS BIGINT) AS bucket
          FROM sc CROSS JOIN q)
        SELECT doc_id, bucket, lm_score FROM bk
        WHERE bucket = 1
           OR (bucket = 2 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80')
           OR (bucket = 3 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40')
           OR (bucket = 4 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20')""")),


    QueryDef("ext_text_token_stats", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        round(TextOps.punctRatio(col("text")) + lit(1e-9), 6).as("punct_ratio"),
        round(TextOps.meanTokenLen(col("text")) + lit(1e-9), 6).as("mean_token_len")),
      Some(s"""SELECT doc_id, n_tokens,
        len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish,
        round(CASE WHEN len(text) = 0 THEN 0 ELSE
          CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
            / len(text) END + 1e-9, 6) AS punct_ratio,
        round(CASE WHEN n_tokens = 0 THEN 0 ELSE
          CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / n_tokens
          END + 1e-9, 6) AS mean_token_len
        FROM (SELECT doc_id, text, $DuckToksRaw AS toks, len($DuckToksRaw) AS n_tokens
              FROM documents)""")),


    // Word-blocklist gate (the C4 badwords filter): blocked-token
    // occurrence count + flag per doc, list riding the scan as a
    // literal. Mixed-case terms prove matching is case-insensitive;
    // "qqqzzz" is absent from the corpus, pinning the zero-hit path.
    QueryDef("ext_blocklist_gate", (s, dir) =>
      TextOps.blocklistGate(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", Seq("Slow", "MERGE", "qqqzzz")),
      Some(s"""SELECT doc_id,
        CAST(len(list_filter($DuckToks,
          t -> t IN ('slow', 'merge', 'qqqzzz'))) AS BIGINT) AS blocked_tokens,
        len(list_filter($DuckToks,
          t -> t IN ('slow', 'merge', 'qqqzzz'))) > 0 AS blocked
      FROM documents""")),


    QueryDef("ext_text_quality", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        round(TextOps.stopwordRatio(col("text")) + lit(1e-9), 6).as("stopword_ratio"),
        round(TextOps.qualityScore(col("text")) + lit(1e-9), 4).as("quality_score")),
      Some(s"""WITH t AS (
          SELECT doc_id, text, $DuckToksRaw AS toks FROM documents),
        m AS (SELECT doc_id, text,
          CASE WHEN len(toks) = 0 THEN 0 ELSE
            CAST(len(list_filter(toks, t -> lower(t) IN ('the','a','an','and','or',
              'of','to','in','is','it','that','for','on','with','as','at','by')))
              AS DOUBLE) / len(toks) END AS stop_ratio,
          CASE WHEN len(text) = 0 THEN 0 ELSE
            CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
              / len(text) END AS punct_ratio,
          CASE WHEN len(toks) = 0 THEN 0 ELSE
            CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks)
            END AS mean_tok_len
          FROM t)
        SELECT doc_id, round(stop_ratio + 1e-9, 6) AS stopword_ratio,
          round(least(len(text) / 500.0, 1.0) * 0.4
              + least(stop_ratio * 5, 1.0) * 0.3
              + (CASE WHEN punct_ratio < 0.2 THEN 0.15 ELSE 0 END)
              + (CASE WHEN mean_tok_len BETWEEN 2 AND 12 THEN 0.15 ELSE 0 END)
              + 1e-9, 4) AS quality_score
        FROM m""")),


    QueryDef("ext_text_lang_id", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextOps.langIdFast(col("text")).as("lang_pred")),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
        s AS (SELECT doc_id,
          len(list_filter(toks, t -> t IN ('der','die','das','und','ist','mit','für','nicht'))) AS h_de,
          len(list_filter(toks, t -> t IN ('the','and','of','is','to','in','that','with'))) AS h_en,
          len(list_filter(toks, t -> t IN ('el','la','los','y','es','en','para','que'))) AS h_es,
          len(list_filter(toks, t -> t IN ('le','la','les','et','est','dans','pour','que'))) AS h_fr,
          len(list_filter(toks, t -> t IN ('的','是','在','了','和','有','我','不'))) AS h_zh
          FROM t)
        SELECT doc_id,
          CASE WHEN best LIKE '0000|%' THEN 'und' ELSE substr(best, 6) END AS lang_pred
        FROM (SELECT doc_id, greatest(
            printf('%04d|%s', h_de, 'de'), printf('%04d|%s', h_en, 'en'),
            printf('%04d|%s', h_es, 'es'), printf('%04d|%s', h_fr, 'fr'),
            printf('%04d|%s', h_zh, 'zh')) AS best FROM s)""")),


    // Adversarial text signals: the degenerate corpus through quality
    // scoring and language id — empty/whitespace docs take every
    // zero-token guard branch (ratios 0, score = length term only),
    // supplementary-plane emoji docs exercise codepoint length
    // semantics (Spark's UTF8String.numChars == DuckDB len — both count
    // codepoints, NOT UTF-16 code units), and no-hit docs resolve to
    // 'und'.
    QueryDef("ext_adv_text_signals", (s, dir) =>
      advCorpus(s, dir).select(
        col("doc_id"),
        round(TextOps.stopwordRatio(col("text")) + lit(1e-9), 6).as("stopword_ratio"),
        round(TextOps.qualityScore(col("text")) + lit(1e-9), 4).as("quality_score"),
        TextOps.langIdFast(col("text")).as("lang_pred")),
      Some(s"""WITH t AS (
          SELECT doc_id, text, $DuckToksRaw AS toks, $DuckToks AS ltoks
          FROM $DuckAdvCorpus),
        m AS (SELECT doc_id, text, ltoks,
          CASE WHEN len(toks) = 0 THEN 0 ELSE
            CAST(len(list_filter(toks, t -> lower(t) IN ('the','a','an','and','or',
              'of','to','in','is','it','that','for','on','with','as','at','by')))
              AS DOUBLE) / len(toks) END AS stop_ratio,
          CASE WHEN len(text) = 0 THEN 0 ELSE
            CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
              / len(text) END AS punct_ratio,
          CASE WHEN len(toks) = 0 THEN 0 ELSE
            CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks)
            END AS mean_tok_len
          FROM t),
        q AS (SELECT doc_id, ltoks,
          round(stop_ratio + 1e-9, 6) AS stopword_ratio,
          round(least(len(text) / 500.0, 1.0) * 0.4
              + least(stop_ratio * 5, 1.0) * 0.3
              + (CASE WHEN punct_ratio < 0.2 THEN 0.15 ELSE 0 END)
              + (CASE WHEN mean_tok_len BETWEEN 2 AND 12 THEN 0.15 ELSE 0 END)
              + 1e-9, 4) AS quality_score
          FROM m),
        h AS (SELECT doc_id,
          len(list_filter(ltoks, t -> t IN ('der','die','das','und','ist','mit','für','nicht'))) AS h_de,
          len(list_filter(ltoks, t -> t IN ('the','and','of','is','to','in','that','with'))) AS h_en,
          len(list_filter(ltoks, t -> t IN ('el','la','los','y','es','en','para','que'))) AS h_es,
          len(list_filter(ltoks, t -> t IN ('le','la','les','et','est','dans','pour','que'))) AS h_fr,
          len(list_filter(ltoks, t -> t IN ('的','是','在','了','和','有','我','不'))) AS h_zh
          FROM q),
        l AS (SELECT doc_id,
          CASE WHEN best LIKE '0000|%' THEN 'und' ELSE substr(best, 6) END AS lang_pred
          FROM (SELECT doc_id, greatest(
              printf('%04d|%s', h_de, 'de'), printf('%04d|%s', h_en, 'en'),
              printf('%04d|%s', h_es, 'es'), printf('%04d|%s', h_fr, 'fr'),
              printf('%04d|%s', h_zh, 'zh')) AS best FROM h))
      SELECT q.doc_id, q.stopword_ratio, q.quality_score, l.lang_pred
      FROM q JOIN l ON l.doc_id = q.doc_id""")),


    // Repetition signal: repeated 2-gram / 3-gram fraction per document
    // (a Gopher-style filter for looping or boilerplate text). Synthetic
    // high-repetition docs are derived in-query so the signal separates.
    QueryDef("ext_text_repetition", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val loops = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text"))
      docs.unionByName(loops).select(col("doc_id"),
        round(TextOps.repetitionRatio(col("text"), 2) + lit(1e-9), 6).as("rep2"),
        round(TextOps.repetitionRatio(col("text"), 3) + lit(1e-9), 6).as("rep3"))
    }, Some(s"""WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, text || ' ' || text FROM documents
        WHERE doc_id % 50 = 0),
      t AS (SELECT doc_id, $DuckToks AS toks FROM all_docs),
      g AS (SELECT doc_id,
          CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i + 1]) END AS g2,
          CASE WHEN len(toks) < 3 THEN [] ELSE list_transform(range(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END AS g3
        FROM t)
      SELECT doc_id,
        round(CASE WHEN len(g2) = 0 THEN 0 ELSE
          1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END + 1e-9, 6) AS rep2,
        round(CASE WHEN len(g3) = 0 THEN 0 ELSE
          1 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END + 1e-9, 6) AS rep3
      FROM g""")),


    // Gopher-style per-document quality gates (word count, mean word
    // length, max-token dominance) — the published rule-based filter
    // family. The stats are per document, so one codegen'd word-stats
    // pass per row (TextOps.wordStats) computes them: no explode, no
    // shuffle. Docs without a token have no stats and no row.
    QueryDef("ext_gopher_rules", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.evalOnce(TextOps.wordStats(col("text"))).as("__ws"))
        .filter(col("__ws").isNotNull)
        .select(col("doc_id") +: TextOps.gopherRules(col("__ws")): _*)
    }, Some(s"""WITH t AS (SELECT doc_id, unnest($DuckToksRaw) AS tok FROM documents),
      per_tok AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
      m AS (SELECT doc_id,
          CAST(sum(c) AS BIGINT) AS n_words,
          round(CAST(sum(len(tok) * c) AS DOUBLE) / sum(c) + 1e-9, 4)
            AS mean_word_len,
          round(CAST(max(c) AS DOUBLE) / sum(c) + 1e-9, 4) AS top_tok_frac
        FROM per_tok GROUP BY doc_id)
      SELECT doc_id, n_words, mean_word_len, top_tok_frac,
        (n_words BETWEEN 20 AND 1000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
          AND top_tok_frac <= 0.2 AS passes
      FROM m""")),


    // Gopher repetition signals (Rae et al. 2021 Table A1 — the
    // within-doc family ext_gopher_rules' word stats don't cover).
    // Repetition is seeded deterministically: ' data ' -> '. ' makes
    // sentences, %2 docs get one sentence duplicated, %3 docs get a
    // 5-token phrase repeated twice (the dup-ngram signal), and the
    // oracle recomputes all four fractions from scratch with the same
    // sentence regex / token rules, deriving ngram coverage from the
    // distinct-position lag walk vs the engine's interval-merge scan.
    QueryDef("ext_gopher_repetition", (s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        concat(regexp_replace(col("text"), lit(" data "), lit(". ")),
          when(col("doc_id") % 2 === 0,
            lit(" repeated closing sentence here. repeated closing sentence here."))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            lit(" the quick brown fox jumps the quick brown fox jumps"))
            .otherwise(lit(""))).as("text"))
      TextOps.repetitionSignals(seeded, "doc_id", "text", ngram = 5)
    }, Some(s"""WITH seeded AS (SELECT doc_id,
          regexp_replace(text, ' data ', '. ', 'g') ||
          CASE WHEN doc_id % 2 = 0
            THEN ' repeated closing sentence here. repeated closing sentence here.'
            ELSE '' END ||
          CASE WHEN doc_id % 3 = 0
            THEN ' the quick brown fox jumps the quick brown fox jumps'
            ELSE '' END AS text
        FROM documents),
      base AS (SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)
            AS toks, text
        FROM seeded),
      doc_base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(coalesce(list_sum(list_transform(toks, t -> len(t))), 0)
            AS BIGINT) AS tok_chars
        FROM base),
      sents AS (SELECT doc_id, lower(trim(sent)) AS sent
        FROM (SELECT doc_id, unnest(regexp_extract_all(text,
            '[^.!?]+[.!?]+|[^.!?]+${"$"}')) AS sent FROM seeded)
        WHERE len(trim(sent)) > 0),
      sent_c AS (SELECT doc_id, sent, count(*) AS c
        FROM sents GROUP BY 1, 2),
      line_stats AS (SELECT doc_id,
          CAST(sum(c) AS BIGINT) AS n_lines,
          CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dl,
          CAST(sum(len(sent) * c) AS BIGINT) AS lc,
          CAST(sum(CASE WHEN c >= 2 THEN len(sent) * c ELSE 0 END) AS BIGINT)
            AS dlc
        FROM sent_c GROUP BY doc_id),
      bg AS (SELECT doc_id, toks[s] || ' ' || toks[s + 1] AS bg
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS s
              FROM base WHERE len(toks) >= 2)),
      bg_c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
      top_bg AS (SELECT doc_id, c AS topc,
          CAST(len(bg) - 1 AS BIGINT) AS topchars
        FROM (SELECT doc_id, bg, c, row_number() OVER (PARTITION BY doc_id
            ORDER BY c DESC, bg ASC) AS rn FROM bg_c)
        WHERE rn = 1),
      w AS (SELECT doc_id, s,
          array_to_string(toks[s:s+4], ' ') AS win
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS s
              FROM base WHERE len(toks) >= 5)),
      rep_w AS (SELECT doc_id, s FROM (SELECT doc_id, s,
            count(*) OVER (PARTITION BY doc_id, win) AS c FROM w)
        WHERE c >= 2),
      pos AS (SELECT DISTINCT doc_id, s + off AS p
        FROM rep_w, range(0, 5) r2(off)),
      cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered
        FROM pos GROUP BY doc_id)
      SELECT d.doc_id, coalesce(n_lines, 0) AS n_lines,
        round(CASE WHEN coalesce(n_lines, 0) > 0
          THEN CAST(dl AS DOUBLE) / n_lines ELSE 0 END + 1e-9, 6)
          AS dup_line_frac,
        round(CASE WHEN coalesce(lc, 0) > 0
          THEN CAST(dlc AS DOUBLE) / lc ELSE 0 END + 1e-9, 6)
          AS dup_line_char_frac,
        round(CASE WHEN tok_chars > 0 AND topc IS NOT NULL
          THEN CAST(topc * topchars AS DOUBLE) / tok_chars ELSE 0 END + 1e-9, 6)
          AS top_bigram_char_frac,
        round(CASE WHEN n_tokens > 0
          THEN CAST(coalesce(covered, 0) AS DOUBLE) / n_tokens ELSE 0 END
          + 1e-9, 6) AS dup_ngram_token_frac
      FROM doc_base d
      LEFT JOIN line_stats USING (doc_id)
      LEFT JOIN top_bg USING (doc_id)
      LEFT JOIN cov USING (doc_id)""")),


    // CROSS-document duplicate trigram fraction (corpus-level twin of
    // the within-doc signals above): per doc, the share of its distinct
    // trigrams that appear in >= 2 documents. Spark shuffles 8-byte
    // xxhash64 fingerprints; the oracle counts the raw gram strings —
    // identical absent a 64-bit collision, which the fixture doesn't
    // have.
    QueryDef("ext_cross_dup_ngrams", (s, dir) =>
      TextOps.crossDupNgramFraction(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", n = 3),
      Some(s"""WITH d AS (SELECT doc_id, $DuckToks AS toks FROM documents),
      g AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) < 3
          THEN [array_to_string(toks, ' ')]
          ELSE list_transform(range(1, len(toks) - 1),
            i -> array_to_string(toks[i:i+2], ' ')) END) AS gram FROM d),
      c AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        round(avg(CASE WHEN c.df >= 2 THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
          AS dup_ngram_frac
      FROM g JOIN c USING (gram) GROUP BY 1""")),


    // Corpus vocabulary: top-50 tokens by frequency (explode -> count ->
    // top-k; the standard corpus-stats shape).
    QueryDef("ext_vocab_topk", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("token")).limit(50),
      Some(s"""SELECT token, count(*) AS n
        FROM (SELECT unnest($DuckToks) AS token FROM documents)
        GROUP BY token ORDER BY n DESC, token LIMIT 50""")),


    // Count-Min sketch frequency estimates vs exact counts: one
    // distributed pass builds the mergeable 4×64 sketch (driver state =
    // 256 longs, the kmeans-centroid contract), the top-15 exact terms
    // are then scored scan-only against the sketch literal. w=64 is
    // deliberately small so collisions are VISIBLE (est > exact on some
    // rows) while one-sided error holds on every row — the oracle
    // rebuilds the identical md5-hashed counters relationally and
    // replays the min-over-rows estimate.
    QueryDef("ext_cms_vocab_freq", (s, dir) => {
      import s.implicits._
      val (d, w) = (4, 64)
      val toks = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
      val sketch = graft.functions.CountMinSketch.build(
        toks.select(col("term")).as[String], d, w)
      toks.groupBy("term").agg(count(lit(1)).as("exact"))
        .orderBy(desc("exact"), col("term")).limit(15)
        .withColumn("est", graft.functions.CountMinSketch
          .estimateCol(sketch, d, w, col("term")))
        .withColumn("never_undercounts", col("est") >= col("exact"))
    }, Some(s"""WITH toks AS (SELECT unnest($DuckToks) AS term FROM documents),
      js AS (SELECT CAST(x AS INTEGER) AS j FROM range(0, 4) r(x)),
      h AS (SELECT term, j,
          ((strpos('0123456789abcdef', substr(md5(j || ':' || term), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(j || ':' || term), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(j || ':' || term), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(j || ':' || term), 4, 1)) - 1)) % 64
            AS b
        FROM toks CROSS JOIN js),
      cell AS (SELECT j, b, CAST(count(*) AS BIGINT) AS c FROM h GROUP BY 1, 2),
      top AS (SELECT term, CAST(count(*) AS BIGINT) AS exact FROM toks
        GROUP BY 1 ORDER BY exact DESC, term LIMIT 15),
      est AS (SELECT th.term, CAST(min(c.c) AS BIGINT) AS est
        FROM (SELECT DISTINCT t.term, h.j, h.b
              FROM top t JOIN h ON h.term = t.term) th
        JOIN cell c USING (j, b) GROUP BY 1)
      SELECT t.term, t.exact, e.est, e.est >= t.exact AS never_undercounts
      FROM top t JOIN est e USING (term)""")),


    // HyperLogLog distinct-shingle cardinality per source vs exact:
    // the 64-register sketch with md5-reproducible hashing — one
    // (source, register) hash agg emits 64 rows per source no matter
    // the input size; the oracle rebuilds every register bit-identically
    // (integer max over string-derived ranks) and replays the
    // bias-corrected estimate. Sources here hold 1.2-1.5k distinct
    // shingles, so this exercises the RAW harmonic-mean branch (the
    // linear-counting small-range branch is spec-covered); rel_err
    // lands inside the published 1.04/√64 ≈ 13% envelope.
    QueryDef("ext_hll_distinct", (s, dir) => {
      val sh = Tables.documents(s, dir).select(col("source"),
        explode(TextOps.stringShingles(col("text"), 3)).as("term"))
      val est = graft.functions.HyperLogLog.estimate(
        graft.functions.HyperLogLog.registers(sh, "term", Seq("source")),
        Seq("source"))
      val exact = sh.groupBy("source")
        .agg(countDistinct(col("term")).as("exact_distinct"))
      exact.join(est, Seq("source"))
        .select(col("source"), col("exact_distinct"), col("est"),
          round(abs(col("est") - col("exact_distinct").cast("double"))
            / col("exact_distinct").cast("double") + lit(1e-9), 6)
            .as("rel_err"))
    }, Some(s"""WITH sh AS (SELECT source,
          unnest(list_distinct(list_transform(range(1, len(toks) - 1),
            i -> array_to_string(toks[i:i+2], ' ')))) AS term
        FROM (SELECT source, $DuckToks AS toks FROM documents)),
      h AS (SELECT source, term,
          ((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1)) % 64
            AS reg,
          CASE WHEN length(regexp_extract(substr(md5(term), 3, 8), '^(0*)', 1)) = 8
            THEN 33
            ELSE length(regexp_extract(substr(md5(term), 3, 8), '^(0*)', 1)) * 4
              + CASE substr(substr(md5(term), 3, 8),
                  length(regexp_extract(substr(md5(term), 3, 8), '^(0*)', 1)) + 1, 1)
                WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                ELSE 0 END + 1 END AS rho
        FROM sh),
      regs AS (SELECT source, reg, max(rho) AS rho FROM h GROUP BY 1, 2),
      agg AS (SELECT source, sum(pow(2.0, -rho)) AS hsum,
          CAST(count(*) AS BIGINT) AS hit FROM regs GROUP BY 1),
      est AS (SELECT source,
          round(CASE WHEN (0.709 * 4096) / (hsum + (64 - hit)) <= 160.0
              AND hit < 64
            THEN 64.0 * ln(64.0 / (64 - hit))
            ELSE (0.709 * 4096) / (hsum + (64 - hit)) END + 1e-9, 6) AS est
        FROM agg),
      ex AS (SELECT source, CAST(count(DISTINCT term) AS BIGINT)
          AS exact_distinct FROM sh GROUP BY 1)
      SELECT ex.source, ex.exact_distinct, est.est,
        round(abs(est.est - exact_distinct) / exact_distinct + 1e-9, 6)
          AS rel_err
      FROM ex JOIN est USING (source)""")),


    // The same reach estimate at m = 256 registers (r9): the
    // parameterized layout draws the register index from the FIRST 4
    // md5 hex digits (16 bits, uniform mod any power of two ≤ 65536)
    // and the rank from digits 5–12 — disjoint bits, so register
    // choice never correlates with rank at large m. Error envelope
    // halves per 4× registers (1.04/√m); the oracle rebuilds the
    // generalized layout and the asymptotic bias constant
    // α(256) = 0.7213/(1 + 1.079/256) with the identical op order.
    QueryDef("ext_hll_distinct_m256", (s, dir) => {
      val sh = Tables.documents(s, dir).select(col("source"),
        explode(TextOps.stringShingles(col("text"), 3)).as("term"))
      val est = graft.functions.HyperLogLog.estimateM(
        graft.functions.HyperLogLog.registersM(sh, "term", 256, Seq("source")),
        256, Seq("source"))
      val exact = sh.groupBy("source")
        .agg(countDistinct(col("term")).as("exact_distinct"))
      exact.join(est, Seq("source"))
        .select(col("source"), col("exact_distinct"), col("est"),
          round(abs(col("est") - col("exact_distinct").cast("double"))
            / col("exact_distinct").cast("double") + lit(1e-9), 6)
            .as("rel_err"))
    }, Some(s"""WITH sh AS (SELECT source,
          unnest(list_distinct(list_transform(range(1, len(toks) - 1),
            i -> array_to_string(toks[i:i+2], ' ')))) AS term
        FROM (SELECT source, $DuckToks AS toks FROM documents)),
      h AS (SELECT source, term,
          ((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(term), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(term), 4, 1)) - 1)) % 256
            AS reg,
          CASE WHEN length(regexp_extract(substr(md5(term), 5, 8), '^(0*)', 1)) = 8
            THEN 33
            ELSE length(regexp_extract(substr(md5(term), 5, 8), '^(0*)', 1)) * 4
              + CASE substr(substr(md5(term), 5, 8),
                  length(regexp_extract(substr(md5(term), 5, 8), '^(0*)', 1)) + 1, 1)
                WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                ELSE 0 END + 1 END AS rho
        FROM sh),
      regs AS (SELECT source, reg, max(rho) AS rho FROM h GROUP BY 1, 2),
      agg AS (SELECT source, sum(pow(2.0, -rho)) AS hsum,
          CAST(count(*) AS BIGINT) AS hit FROM regs GROUP BY 1),
      est AS (SELECT source,
          round(CASE WHEN ((0.7213 / (1 + 1.079 / 256)) * 256) * 256
                / (hsum + (256 - hit)) <= 640.0 AND hit < 256
            THEN 256.0 * ln(256.0 / (256 - hit))
            ELSE ((0.7213 / (1 + 1.079 / 256)) * 256) * 256
                / (hsum + (256 - hit)) END + 1e-9, 6) AS est
        FROM agg),
      ex AS (SELECT source, CAST(count(DISTINCT term) AS BIGINT)
          AS exact_distinct FROM sh GROUP BY 1)
      SELECT ex.source, ex.exact_distinct, est.est,
        round(abs(est.est - exact_distinct) / exact_distinct + 1e-9, 6)
          AS rel_err
      FROM ex JOIN est USING (source)""")),


    // Bloom membership with engine-reproducible bits: the filter is a
    // RELATION of distinct set bit positions (≤ m rows — union-merge,
    // broadcast-probe), k=4 md5 positions per key at m=2048. Base =
    // every third doc; probing ALL docs pins no-false-negatives row by
    // row AND the filter's actual false positives — the oracle rebuilds
    // the identical bit set, so even the FPs match exactly.
    QueryDef("ext_bloom_membership", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("k"), col("doc_id").cast("string")).as("key"))
      val basePos = graft.functions.BloomSketch.positions(
        docs.filter(col("doc_id") % 3 === 0), "key", k = 4, m = 2048)
      graft.functions.BloomSketch
        .mightContain(docs.select("key"), "key", basePos, k = 4, m = 2048)
        .join(docs, Seq("key"))
        .select(col("doc_id"), col("might_contain"),
          (col("doc_id") % 3 === 0).as("actual"),
          (col("might_contain") && col("doc_id") % 3 =!= 0)
            .as("is_false_positive"))
    }, Some("""WITH js AS (SELECT CAST(x AS INTEGER) AS j FROM range(0, 4) r(x)),
      base AS (SELECT 'k' || CAST(doc_id AS VARCHAR) AS key FROM documents
        WHERE doc_id % 3 = 0),
      bp AS (SELECT DISTINCT
          ((strpos('0123456789abcdef', substr(md5(j || ':' || key), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(j || ':' || key), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(j || ':' || key), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(j || ':' || key), 4, 1)) - 1)) % 2048
            AS pos
        FROM base CROSS JOIN js),
      probe AS (SELECT doc_id, 'k' || CAST(doc_id AS VARCHAR) AS key
        FROM documents),
      pp AS (SELECT doc_id,
          ((strpos('0123456789abcdef', substr(md5(j || ':' || key), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(j || ':' || key), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(j || ':' || key), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(j || ':' || key), 4, 1)) - 1)) % 2048
            AS pos
        FROM probe CROSS JOIN js),
      hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c
        FROM pp JOIN bp USING (pos) GROUP BY 1)
      SELECT p.doc_id, coalesce(h.c, 0) = 4 AS might_contain,
        p.doc_id % 3 = 0 AS actual,
        (coalesce(h.c, 0) = 4 AND p.doc_id % 3 <> 0) AS is_false_positive
      FROM (SELECT DISTINCT doc_id FROM probe) p
      LEFT JOIN hits h USING (doc_id)""")),


    // HLL under the degenerate head: a handful of distinct tokens
    // (dup/case/whitespace variants collapse, empty docs contribute
    // nothing), so V > 0 and the LINEAR-COUNTING small-range branch is
    // the one the oracle replays — the branch ext_hll_distinct's
    // 1.2-1.5k-distinct sources never take.
    QueryDef("ext_adv_hll", (s, dir) => {
      import s.implicits._
      val terms = AdvDegenHead.toDF("doc_id", "text")
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
      val est = graft.functions.HyperLogLog.estimate(
        graft.functions.HyperLogLog.registers(terms, "term"))
      terms.agg(countDistinct(col("term")).as("exact_distinct"))
        .crossJoin(est)
    }, Some(s"""WITH t AS (SELECT unnest($DuckToks) AS term
          FROM $DuckAdvDegenHead),
      h AS (SELECT term,
          ((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1)) % 64
            AS reg,
          CASE WHEN length(regexp_extract(substr(md5(term), 3, 8), '^(0*)', 1)) = 8
            THEN 33
            ELSE length(regexp_extract(substr(md5(term), 3, 8), '^(0*)', 1)) * 4
              + CASE substr(substr(md5(term), 3, 8),
                  length(regexp_extract(substr(md5(term), 3, 8), '^(0*)', 1)) + 1, 1)
                WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                ELSE 0 END + 1 END AS rho
        FROM t),
      regs AS (SELECT reg, max(rho) AS rho FROM h GROUP BY 1),
      agg AS (SELECT sum(pow(2.0, -rho)) AS hsum,
          CAST(count(*) AS BIGINT) AS hit FROM regs)
      SELECT (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM t)
          AS exact_distinct,
        round(CASE WHEN (0.709 * 4096) / (hsum + (64 - hit)) <= 160.0
            AND hit < 64
          THEN 64.0 * ln(64.0 / (64 - hit))
          ELSE (0.709 * 4096) / (hsum + (64 - hit)) END + 1e-9, 6) AS est
      FROM agg""")),


    // TF-IDF top-3 terms per document (tf = term count / doc length,
    // idf = ln(N/df)): the classic relevance weighting a training-data
    // pipeline uses for keyword extraction / corpus diagnostics. Shuffles:
    // one on (doc, term), one on term for df, one broadcast-able 1-row N.
    QueryDef("ext_tfidf_topk", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      // persist barrier: tf feeds BOTH the scoring chain and the df
      // branch — without it the tokenize+count subtree runs twice
      // (released by the harness's per-query clearCache)
      val tf = docs.select(col("doc_id"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
        .withColumn("toklen", sum(col("tc")).over(Window.partitionBy("doc_id")))
        .transform(graft.core.CacheRegistry.persistTracked)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(
          (col("tc").cast("double") / col("toklen")) *
            log(col("n_docs").cast("double") / col("df")) + lit(1e-9), 6))
      scored.withColumn("__rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))))
        .filter(col("__rn") <= 3)
        .select("doc_id", "term", "tfidf")
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      tl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS toklen FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (SELECT doc_id, term,
          round((CAST(tc AS DOUBLE) / toklen) *
            ln(CAST(n_docs AS DOUBLE) / df) + 1e-9, 6) AS tfidf
        FROM tl JOIN dfreq USING (term) CROSS JOIN n),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY tfidf DESC, term) AS rn FROM scored)
      SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3""")),


    // Crawl-text cleanup: control chars + whitespace runs normalized
    // BEFORE fingerprinting (TextOps.cleanText scaladoc). Noise is
    // injected deterministically (the fixtures are already clean);
    // DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all default.
    QueryDef("ext_text_clean", (s, dir) => {
      val noisy = concat(lit("  "), col("text"), lit(" \r\n\tend"))
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.cleanText(noisy).as("clean"),
        (length(noisy) - length(TextOps.cleanText(noisy)))
          .cast("long").as("removed"))
    }, Some("""SELECT doc_id,
        trim(regexp_replace(regexp_replace(
          chr(7) || '  ' || text || ' ' || chr(13) || chr(10) || chr(9)
            || 'end' || chr(7),
          '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'), '\s+', ' ', 'g')) AS clean,
        CAST(len(chr(7) || '  ' || text || ' ' || chr(13) || chr(10) || chr(9)
            || 'end' || chr(7))
          - len(trim(regexp_replace(regexp_replace(
              chr(7) || '  ' || text || ' ' || chr(13) || chr(10) || chr(9)
                || 'end' || chr(7),
              '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'), '\s+', ' ', 'g')))
          AS BIGINT) AS removed
      FROM documents""")),


    // Sentence segmentation: extraction-based splitting (RE2-portable —
    // TextOps.sentences scaladoc), one row per sentence via posexplode.
    // The fixture text has no punctuation, so sentence breaks are
    // injected deterministically first.
    // C4-style boilerplate removal: footers seeded onto every 2nd / 5th
    // doc appear in hundreds of documents and are stripped everywhere;
    // organic sentences (word-soup, effectively unique) survive. The
    // oracle counts distinct docs per normalized sentence STRING — the
    // Spark side counts per xxhash64(lower(sentence)), identical counts
    // modulo 64-bit collisions (~1e-13 at fixture cardinality).
    QueryDef("ext_boilerplate_removal", (s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        concat(regexp_replace(col("text"), lit(" data "), lit(". ")),
          when(col("doc_id") % 2 === 0,
            lit(". all rights reserved cookie notice terms apply."))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit(" subscribe to our newsletter for updates."))
            .otherwise(lit(""))).as("text"))
      TextOps.removeBoilerplate(seeded, "doc_id", "text", minDocs = 10)
    }, Some("""WITH seeded AS (SELECT doc_id,
          regexp_replace(text, ' data ', '. ', 'g') ||
          CASE WHEN doc_id % 2 = 0
            THEN '. all rights reserved cookie notice terms apply.' ELSE '' END ||
          CASE WHEN doc_id % 5 = 0
            THEN ' subscribe to our newsletter for updates.' ELSE '' END AS text
        FROM documents),
      sents AS (SELECT doc_id,
          CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS idx,
          unnest(ss) AS sent
        FROM (SELECT doc_id, list_filter(list_transform(
            regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+$'),
            x -> trim(x)), x -> len(x) > 0) AS ss FROM seeded)),
      counts AS (SELECT lower(sent) AS ls, count(DISTINCT doc_id) AS nd
        FROM sents GROUP BY 1),
      flagged AS (SELECT s.doc_id, s.idx, s.sent, c.nd >= 10 AS boiler
        FROM sents s JOIN counts c ON lower(s.sent) = c.ls)
      SELECT doc_id,
        coalesce(string_agg(CASE WHEN NOT boiler THEN sent END, ' '
          ORDER BY idx), '') AS clean_text,
        CAST(count_if(boiler) AS BIGINT) AS n_removed,
        CAST(count(*) AS BIGINT) AS n_sentences
      FROM flagged GROUP BY doc_id""")),


    QueryDef("ext_text_sentences", (s, dir) => {
      val punctuated = regexp_replace(col("text"), lit(" data "), lit(". "))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextOps.sentences(punctuated)).as(Seq("sent_idx", "sentence")))
        .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"),
          col("sentence"), length(col("sentence")).cast("long").as("n_chars"))
    }, Some("""SELECT doc_id,
        CAST(generate_subscripts(sents, 1) - 1 AS BIGINT) AS sent_idx,
        unnest(sents) AS sentence,
        CAST(len(unnest(sents)) AS BIGINT) AS n_chars
      FROM (SELECT doc_id,
          list_filter(list_transform(
            regexp_extract_all(regexp_replace(text, ' data ', '. ', 'g'),
              '[^.!?]+[.!?]+|[^.!?]+$'),
            s -> trim(s)), s -> len(s) > 0) AS sents
        FROM documents)""")),


    // BM25 top-5 per query (Okapi k1=1.2, b=0.75, +1-smoothed idf) —
    // lexical retrieval over the corpus; the query set is derived
    // deterministically from the corpus's own df ranking (terms 11-22
    // by df DESC, grouped 3-per-query → 4 queries), so both engines
    // build identical queries with no fixture dependency. Shape: two
    // corpus aggregations + broadcast posting join; see
    // ext/Retrieval.scala scaladoc for the inverted-index argument.
    QueryDef("ext_bm25_topk", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      graft.ext.Retrieval.bm25TopK(
        docs, graft.ext.Retrieval.dfDerivedQueries(docs, n = 4, perQuery = 3), k = 5)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      qt AS (SELECT CAST((rnk - 11) // 3 AS BIGINT) AS query_id, term, df
        FROM (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
        WHERE rnk BETWEEN 11 AND 22),
      scored AS (SELECT qt.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN qt USING (term) CROSS JOIN stats GROUP BY 1, 2),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS rn FROM scored)
      SELECT query_id, doc_id, score FROM ranked WHERE rn <= 5""")),


    // Late-interaction MaxSim (ColBERT posture): docs and probes as
    // 4×16-dim token-vector bags (the 64-dim fixture embedding sliced),
    // score = Σ_qtok max_dtok cos — partial matches score where pooled
    // vectors wash out. One corpus scan vs broadcast query tokens, two
    // map-side aggs, aggregator top-k.
    QueryDef("ext_maxsim_topk", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      def sliced(df: org.apache.spark.sql.DataFrame, idAs: String,
                 vecAs: String, idxAs: String) =
        df.select(col("vec_id").as(idAs),
            posexplode(array((0 until 4).map(i =>
              slice(col("embedding"), i * 16 + 1, 16)): _*))
              .as(Seq(idxAs, vecAs)))
      val docToks = sliced(vecs, "doc_id", "vec", "tok_idx")
      val qToks = sliced(
        vecs.filter(col("vec_id").isin(100L, 200L, 300L)), "query_id", "qvec",
        "qtok_idx")
      graft.ext.Retrieval.maxSimTopK(docToks, qToks, k = 5)
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      dt AS (SELECT vec_id AS doc_id, i AS tok_idx,
          e[16 * i + 1 : 16 * (i + 1)] AS dv
        FROM v, range(0, 4) r(i)),
      qt AS (SELECT vec_id AS query_id, i AS qtok_idx,
          e[16 * i + 1 : 16 * (i + 1)] AS qv
        FROM v, range(0, 4) r(i) WHERE vec_id IN (100, 200, 300)),
      pair AS (SELECT qt.query_id, dt.doc_id, qt.qtok_idx,
          max(round(list_inner_product(dt.dv, qt.qv) /
            nullif(sqrt(list_inner_product(dt.dv, dt.dv))
                 * sqrt(list_inner_product(qt.qv, qt.qv)), 0) + 1e-9, 6)) AS m
        FROM dt CROSS JOIN qt GROUP BY 1, 2, 3),
      scored AS (SELECT query_id, doc_id, round(sum(m) + 1e-9, 6) AS score
        FROM pair GROUP BY 1, 2),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS rn FROM scored)
      SELECT query_id, doc_id, score FROM ranked WHERE rn <= 5""")),


    // Edit-distance-1 fuzzy term resolution (SymSpell deletion-
    // neighborhood equi-join + exact levenshtein verify): misspelled
    // query terms — 2nd character dropped from frequent vocabulary
    // terms — resolve back to every vocabulary term within one edit.
    // The engine never forms a vocab×queries product (PlanSpec); the
    // oracle, vocabulary-sized, can afford the naive cross check.
    QueryDef("ext_fuzzy_terms", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val vocab = docs
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("__n"))
        .filter(length(col("term")) >= 4)
      val qterms = vocab
        .orderBy(desc("__n"), col("term")).limit(5)
        .select(row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(lit(0)).orderBy(desc("__n"), col("term")))
            .cast("long").as("query_id"),
          concat(col("term").substr(lit(1), lit(1)),
            col("term").substr(lit(3), length(col("term")) - 2)).as("qterm"))
      graft.ext.Retrieval.fuzzyTermMatch(
        vocab.select("term"), "term", qterms, "query_id", "qterm")
    }, Some(s"""WITH toks AS (SELECT unnest($DuckToks) AS term FROM documents),
      vocab AS (SELECT term, count(*) AS n FROM toks
        WHERE len(term) >= 4 GROUP BY 1),
      qt AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT)
            AS query_id,
          substr(term, 1, 1) || substr(term, 3) AS qterm
        FROM vocab ORDER BY n DESC, term LIMIT 5)
      SELECT DISTINCT qt.query_id, qt.qterm, vocab.term
      FROM vocab CROSS JOIN qt
      WHERE levenshtein(qt.qterm, vocab.term) <= 1""")),


    // Typo-tolerant search end-to-end: misspelled query terms resolve
    // through the SymSpell deletion-neighborhood join, and the RESOLVED
    // vocabulary terms feed BM25 — the composition a lexical search
    // stack actually runs. Same scale shapes as the two parts.
    QueryDef("ext_fuzzy_bm25", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val vocab = docs
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("__n"))
        .filter(length(col("term")) >= 4)
      val qterms = vocab
        .orderBy(desc("__n"), col("term")).limit(3)
        .select(row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(lit(0)).orderBy(desc("__n"), col("term")))
            .cast("long").as("query_id"),
          concat(col("term").substr(lit(1), lit(1)),
            col("term").substr(lit(3), length(col("term")) - 2)).as("qterm"))
      val resolved = graft.ext.Retrieval.fuzzyTermMatch(
          vocab.select("term"), "term", qterms, "query_id", "qterm")
        .select("query_id", "term").distinct()
      graft.ext.Retrieval.bm25TopK(docs, resolved, k = 5)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      vocab AS (SELECT term, count(*) AS n FROM toks
        WHERE len(term) >= 4 GROUP BY 1),
      qt AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT)
            AS query_id,
          substr(term, 1, 1) || substr(term, 3) AS qterm
        FROM vocab ORDER BY n DESC, term LIMIT 3),
      res AS (SELECT DISTINCT qt.query_id, vocab.term
        FROM vocab CROSS JOIN qt
        WHERE levenshtein(qt.qterm, vocab.term) <= 1),
      scored AS (SELECT res.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN res USING (term) JOIN dfreq USING (term)
        CROSS JOIN stats GROUP BY 1, 2),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS rn FROM scored)
      SELECT query_id, doc_id, score FROM ranked WHERE rn <= 5""")),


    // Index TAKEDOWN for the retrieval family: a standing BM25 postings
    // table loses every 9th-mod-2 document via the generalized bucket
    // rewrite (same machinery as ext_dedup_index_forget), WITHOUT a
    // rebuild — per-term df self-heals (it is counted from surviving
    // postings at query time) while the 1-row corpus stats stay stale
    // until the next refresh, the documented drift of delete-in-place.
    // The oracle scores post-forget postings with full-corpus stats.
    QueryDef("ext_bm25_forget", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val (_, stats) =
        graft.ext.Retrieval.buildBm25Index(s, "graft_bm25f", docs, buckets = 16)
      val queries = graft.ext.Retrieval.dfDerivedQueries(docs, n = 4, perQuery = 3)
      val forget = docs.filter(col("doc_id") % 9 === 2).select("doc_id")
      graft.core.Materialize.bucketForget(s, "graft_bm25f_postings",
        buckets = 16, bucketCols = Seq("term"), "doc_id", forget)
      graft.ext.Retrieval.bm25TopKIndexed(
        s.table("graft_bm25f_postings"), stats, queries, k = 5)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      qt AS (SELECT CAST((rnk - 11) // 3 AS BIGINT) AS query_id, term
        FROM (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
        WHERE rnk BETWEEN 11 AND 22),
      tf2 AS (SELECT * FROM dl WHERE doc_id % 9 <> 2),
      df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
      scored AS (SELECT qt.query_id, tf2.doc_id,
          round(sum(
            ln(1 + (n_docs - df2.df + 0.5) / (df2.df + 0.5)) *
            (tf2.tc * 2.2) /
            (tf2.tc + 1.2 * (0.25 + 0.75 * tf2.dl * n_docs
              / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM tf2 JOIN qt USING (term) JOIN df2 ON df2.term = tf2.term
        CROSS JOIN stats GROUP BY 1, 2),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS rn FROM scored)
      SELECT query_id, doc_id, score FROM ranked WHERE rn <= 5""")),


    // Pseudo-relevance-feedback retrieval (RM3 posture): pass 1 BM25 →
    // top-5 feedback docs per query → top-2 fresh tf·idf terms appended
    // → pass 2 BM25 over the expanded queries. The oracle replays both
    // passes and the expansion ranking in one statement.
    QueryDef("ext_bm25_prf", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // shared-postings pipeline: ONE tokenize+count pass feeds query
      // derivation, both retrieval passes and the expansion (the
      // convenience composition dfDerivedQueries → prfExpand → bm25TopK
      // re-tokenized the corpus four times); same integers, same
      // rounding, oracle-pinned below
      graft.ext.Retrieval.bm25PrfPipeline(docs, n = 4, perQuery = 3,
        feedbackK = 5, expandTerms = 2, k = 5)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      qt AS (SELECT CAST((rnk - 11) // 3 AS BIGINT) AS query_id, term, df
        FROM (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
        WHERE rnk BETWEEN 11 AND 22),
      scored AS (SELECT qt.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN qt USING (term) CROSS JOIN stats GROUP BY 1, 2),
      fb AS (SELECT query_id, doc_id FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
        FROM scored) WHERE rn <= 5),
      cand AS (SELECT fb.query_id, dl.term,
          round(sum(dl.tc *
            ln(1 + (n_docs - f.df + 0.5) / (f.df + 0.5))) + 1e-9, 6) AS wt
        FROM fb JOIN dl ON dl.doc_id = fb.doc_id
        JOIN dfreq f ON f.term = dl.term CROSS JOIN stats
        GROUP BY 1, 2),
      fresh AS (SELECT c.query_id, c.term, c.wt FROM cand c
        LEFT JOIN qt ON qt.query_id = c.query_id AND qt.term = c.term
        WHERE qt.term IS NULL),
      exp AS (SELECT query_id, term FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY wt DESC, term) AS rn FROM fresh)
        WHERE rn <= 2),
      qt2 AS (SELECT q.query_id, q.term, f.df FROM (
          SELECT query_id, term FROM qt
          UNION ALL SELECT query_id, term FROM exp) q
        JOIN dfreq f USING (term)),
      scored2 AS (SELECT qt2.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - qt2.df + 0.5) / (qt2.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN qt2 USING (term) CROSS JOIN stats GROUP BY 1, 2),
      ranked2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS rn FROM scored2)
      SELECT query_id, doc_id, score FROM ranked2 WHERE rn <= 5""")),


    // Document-level PMI collocations over the rank-11..40 vocabulary
    // (df-rank convention), pairs sharing ≥ 5 docs. The oracle replays
    // the vocabulary cut, the within-doc pairing, and the PMI formula.
    QueryDef("ext_collocations", (s, dir) =>
      graft.ext.TextOps.collocations(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", vocab = 30, skip = 10, minPairs = 5),
      Some(s"""WITH toks AS (SELECT DISTINCT doc_id, unnest($DuckToks) AS term
          FROM documents),
        dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM toks GROUP BY 1),
        top AS (SELECT term, df FROM (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
          WHERE rnk BETWEEN 11 AND 40),
        nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM toks),
        t AS (SELECT toks.doc_id, toks.term, top.df FROM toks
          JOIN top USING (term)),
        pairs AS (SELECT a.term AS term_a, b.term AS term_b,
            CAST(count(*) AS BIGINT) AS n_ab,
            max(a.df) AS na, max(b.df) AS nb
          FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term < b.term
          GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT term_a, term_b, n_ab,
        round(ln(CAST(n_ab AS DOUBLE) * n / (na * nb)) + 1e-9, 6) AS pmi
      FROM pairs CROSS JOIN nn""")),


    // Feature hashing: 64-dim dense count vectors via the md5 token
    // bucket (the classifier's mapping), emitted EXPLODED as
    // (doc_id, dim, val) with zeros included — pinning the dense
    // assembly, not just the sparse counts.
    QueryDef("ext_hashing_tf", (s, dir) =>
      graft.ext.TextOps.hashingTf(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", dims = 64)
        .select(col("doc_id"),
          posexplode(col("features")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val")),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS tok
          FROM documents),
        b AS (SELECT doc_id,
            CAST(((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64
              AS INTEGER) AS bk FROM toks),
        c AS (SELECT doc_id, bk, CAST(count(*) AS BIGINT) AS val
          FROM b GROUP BY 1, 2),
        d AS (SELECT DISTINCT doc_id FROM toks)
      SELECT d.doc_id, CAST(r.i AS BIGINT) AS dim,
        coalesce(c.val, CAST(0 AS BIGINT)) AS val
      FROM d CROSS JOIN range(0, 64) r(i)
      LEFT JOIN c ON c.doc_id = d.doc_id AND c.bk = r.i""")),


    // Retrieval metrics: BM25 top-10 judged against conjunctive-match
    // ground truth (a doc is relevant iff it contains ALL the query's
    // terms). recall@10 / MRR / nDCG@10 replayed end to end by the
    // oracle, including the ideal-DCG normalizer.
    QueryDef("ext_retrieval_metrics", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val q0 = graft.ext.Retrieval.dfDerivedQueries(docs, n = 4, perQuery = 3)
      val results = graft.ext.Retrieval.bm25TopK(docs, q0, k = 10)
      val tf = docs.select(col("doc_id"),
        explode(graft.ext.TextOps.tokens(lower(col("text")))).as("term"))
        .distinct()
      val nt = q0.groupBy("query_id").agg(count(lit(1)).as("__nt"))
      val truth = q0.join(tf, Seq("term"))
        .groupBy("query_id", "doc_id").agg(countDistinct("term").as("__m"))
        .join(nt, Seq("query_id")).filter(col("__m") === col("__nt"))
        .select("query_id", "doc_id")
      graft.ext.Retrieval.evalMetrics(results, truth, k = 10)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      qt AS (SELECT CAST((rnk - 11) // 3 AS BIGINT) AS query_id, term, df
        FROM (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
        WHERE rnk BETWEEN 11 AND 22),
      scored AS (SELECT qt.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN qt USING (term) CROSS JOIN stats GROUP BY 1, 2),
      ranked AS (SELECT query_id, doc_id, rn FROM (SELECT *,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS rn FROM scored) WHERE rn <= 10),
      nt AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1),
      mt AS (SELECT qt.query_id, tf.doc_id,
          count(DISTINCT qt.term) AS m
        FROM qt JOIN tf ON tf.term = qt.term GROUP BY 1, 2),
      truth AS (SELECT mt.query_id, mt.doc_id FROM mt
        JOIN nt ON nt.query_id = mt.query_id WHERE mt.m = nt.n_terms),
      nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        FROM truth GROUP BY 1),
      hits AS (SELECT r.query_id, r.rn FROM ranked r
        JOIN truth t ON t.query_id = r.query_id AND t.doc_id = r.doc_id),
      perq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS hits,
          min(rn) AS minrank, sum(1.0 / log2(rn + 1)) AS dcg
        FROM hits GROUP BY 1)
      SELECT n.query_id, n.n_rel,
        round(coalesce(p.hits, 0) / CAST(n.n_rel AS DOUBLE) + 1e-9, 6)
          AS recall,
        round(coalesce(1.0 / p.minrank, 0) + 1e-9, 6) AS mrr,
        round(coalesce(p.dcg, 0) / list_sum(list_transform(
            range(1, least(10, n.n_rel) + 1), i -> 1.0 / log2(i + 1)))
          + 1e-9, 6) AS ndcg
      FROM nrel n LEFT JOIN perq p USING (query_id)""")),


    // Entity-resolution blocking (record linkage): candidate pairs from
    // a composite block key (first name token × p_size), verified by
    // edit distance — the classic blocking-then-verify shape that
    // bounds the quadratic to block sizes, exactly as LSH bands bound
    // near-dup dedup. One shuffle per side on the block key; the
    // Levenshtein verify runs only at block collisions.
    QueryDef("ext_er_blocking", (s, dir) => {
      val parts = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_name"), col("p_size"))
        .withColumn("blk", substring_index(col("p_name"), " ", 1))
      val a = parts.select(col("blk"), col("p_size"),
        col("p_partkey").as("id_a"), col("p_name").as("name_a"))
      val b = parts.select(col("blk"), col("p_size"),
        col("p_partkey").as("id_b"), col("p_name").as("name_b"))
      a.join(b, Seq("blk", "p_size")).filter(col("id_a") < col("id_b"))
        .withColumn("dist",
          levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= 4)
        .select("id_a", "id_b", "dist")
    }, Some("""WITH p AS (SELECT p_partkey, p_name, p_size,
          split_part(p_name, ' ', 1) AS blk FROM part)
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      FROM p a JOIN p b
        ON a.blk = b.blk AND a.p_size = b.p_size
        AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 4""")),


    // Fellegi-Sunter match scoring (record linkage, 1969) over blocked
    // candidates: per-field agreement indicators fold into the classic
    // log-likelihood weight Σ ln(m/u) | ln((1−m)/(1−u)) with fixed
    // documented priors (EM-estimating m/u is the production refinement;
    // the fold and banding are identical). Two-token blocking bounds the
    // quadratic; only 'possible'-or-better pairs (weight ≥ 0) are
    // emitted. Weight terms are per-row sums of 3 double constants —
    // cross-engine ln ulps die in the round(+1e-9, 6); bands compare the
    // ROUNDED weight, so banding is hash-stable too.
    QueryDef("ext_er_score", (s, dir) => {
      // widen the single-file scan BEFORE the blocked self-join: the
      // broadcast join preserves the probe side's partitioning, so the
      // whole pair-generation + levenshtein stage otherwise runs in the
      // scan's one task (measured r14: 4.5 s in 4 tasks)
      val parts = graft.core.Parallel.widen(
          Tables.part(s, dir)
            .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_brand")))
        .withColumn("blk", concat_ws(" ",
          substring_index(col("p_name"), " ", 2)))
      def side(t: String) = parts.select(col("blk"),
        col("p_partkey").as(s"id_$t"), col("p_name").as(s"name_$t"),
        col("p_size").as(s"size_$t"), col("p_brand").as(s"brand_$t"))
      val w = side("a").join(side("b"), Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(
            when(levenshtein(col("name_a"), col("name_b")) <= 2,
              lit(math.log(0.9 / 0.01))).otherwise(lit(math.log(0.1 / 0.99)))
            + when(col("size_a") === col("size_b"),
              lit(math.log(0.95 / 0.02))).otherwise(lit(math.log(0.05 / 0.98)))
            + when(col("brand_a") === col("brand_b"),
              lit(math.log(0.9 / 0.04))).otherwise(lit(math.log(0.1 / 0.96)))
            + lit(1e-9), 6).as("weight"))
      w.filter(col("weight") >= 0)
        .withColumn("band", when(col("weight") >= 5, "match")
          .otherwise(lit("possible")))
    }, Some("""WITH p AS (SELECT p_partkey, p_name, p_size, p_brand,
          split_part(p_name, ' ', 1) || ' ' || split_part(p_name, ' ', 2)
            AS blk FROM part),
      c AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
          round((CASE WHEN levenshtein(a.p_name, b.p_name) <= 2
              THEN ln(0.9 / 0.01) ELSE ln(0.1 / 0.99) END)
            + (CASE WHEN a.p_size = b.p_size
              THEN ln(0.95 / 0.02) ELSE ln(0.05 / 0.98) END)
            + (CASE WHEN a.p_brand = b.p_brand
              THEN ln(0.9 / 0.04) ELSE ln(0.1 / 0.96) END) + 1e-9, 6)
            AS weight
        FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey)
      SELECT id_a, id_b, weight,
        CASE WHEN weight >= 5 THEN 'match' ELSE 'possible' END AS band
      FROM c WHERE weight >= 0""")),


    // BM25 against a MATERIALIZED inverted index: postings bucketed by
    // term + 1-row stats table (Retrieval.buildBm25Index). The query
    // side — including the df-derived query set itself — reads ONLY the
    // saved tables; the corpus is scanned once at build. Same answer,
    // same oracle SQL as ext_bm25_topk (the ad-hoc twin): what changes
    // is WHERE the tokenize/df shuffle is paid, not the result. Build
    // cost rides inside the timed run, same accounting as
    // j8_bucketed_join / ext_sim_ann_persisted.
    QueryDef("ext_bm25_persisted", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val (postings, stats) =
        graft.ext.Retrieval.buildBm25Index(s, "graft_bm25", docs, buckets = 16)
      val queries = graft.ext.Retrieval.dfDerivedQueriesFrom(
        postings.groupBy("term").agg(count(lit(1)).as("df")),
        n = 4, perQuery = 3)
      graft.ext.Retrieval.bm25TopKIndexed(postings, stats, queries, k = 5)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      qt AS (SELECT CAST((rnk - 11) // 3 AS BIGINT) AS query_id, term, df
        FROM (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
        WHERE rnk BETWEEN 11 AND 22),
      scored AS (SELECT qt.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN qt USING (term) CROSS JOIN stats GROUP BY 1, 2),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS rn FROM scored)
      SELECT query_id, doc_id, score FROM ranked WHERE rn <= 5""")),


    // BM25 over the degenerate corpus with EXPLICIT query terms: the
    // 20-copy boilerplate block scores 20 identical rows and k=7 must
    // cut the tie purely by doc_id; the case/padding twins of "word"
    // collapse to one posting each and tie three ways; a term absent
    // from the corpus ("qqqzzz") drops its query from the result
    // entirely (inner df join — no NULL-score rows); empty/whitespace
    // docs never enter N. Explicit terms (not df-derived) keep the
    // query set clear of the UTF-8-vs-UTF-16 tie zone the BPE row
    // owns — this row is about tie CUTS, not collation.
    QueryDef("ext_adv_bm25", (s, dir) => {
      import s.implicits._
      val queries = Seq((0L, "identical"), (0L, "boilerplate"),
        (1L, "word"), (2L, "qqqzzz")).toDF("query_id", "term")
      graft.ext.Retrieval.bm25TopK(advCorpus(s, dir), queries, k = 7)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term
          FROM $DuckAdvCorpus),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, term, df
        FROM (VALUES (0, 'identical'), (0, 'boilerplate'),
          (1, 'word'), (2, 'qqqzzz')) q(query_id, term)
        JOIN dfreq USING (term)),
      scored AS (SELECT qt.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN qt USING (term) CROSS JOIN stats GROUP BY 1, 2),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS rn FROM scored)
      SELECT query_id, doc_id, score FROM ranked WHERE rn <= 7""")),


    // Hybrid sparse+dense retrieval fused by reciprocal rank (RRF,
    // Cormack 2009): the BM25 leg ranks the full corpus lexically, the
    // dense leg ranks the embedded subset by cosine against one probe
    // embedding per query (vec_id 100·(q+1) — deterministic, present at
    // every fixture scale), and the fusion sums 1/(60+rank) per leg.
    // Docs outside the embeddings table simply lack a dense
    // contribution — exactly the production posture where only part of
    // the corpus is embedded. Both legs are top-10; fused top-5.
    QueryDef("ext_rrf_hybrid", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val sparse = graft.ext.Retrieval.bm25TopK(
        docs, graft.ext.Retrieval.dfDerivedQueries(docs, n = 4, perQuery = 3), k = 10)
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id").isin(100L, 200L, 300L, 400L))
        .select(((col("vec_id") / lit(100)).cast("long") - lit(1)).as("query_id"),
          col("embedding").as("probe_vec"))
      val dense = graft.ext.Similarity.bruteForceTopK(
          vecs, "vec_id", "embedding", probes, "query_id", "probe_vec", k = 10)
        .withColumnRenamed("vec_id", "doc_id")
      graft.ext.Retrieval.rrfFuse(Seq(sparse, dense), k = 5)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      qt AS (SELECT CAST((rnk - 11) // 3 AS BIGINT) AS query_id, term, df
        FROM (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
        WHERE rnk BETWEEN 11 AND 22),
      sp_scored AS (SELECT qt.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN qt USING (term) CROSS JOIN stats GROUP BY 1, 2),
      sp AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS r FROM sp_scored),
      v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      p AS (SELECT vec_id // 100 - 1 AS query_id, e AS pe FROM v
        WHERE vec_id IN (100, 200, 300, 400)),
      dn_scored AS (SELECT p.query_id, v.vec_id AS doc_id,
          round(list_inner_product(v.e, p.pe) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
        FROM v CROSS JOIN p),
      dn AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS r FROM dn_scored),
      legs AS (SELECT query_id, doc_id, r FROM sp WHERE r <= 10
        UNION ALL SELECT query_id, doc_id, r FROM dn WHERE r <= 10),
      fused AS (SELECT query_id, doc_id,
          round(sum(1.0 / (60 + r)) + 1e-9, 6) AS rrf
        FROM legs GROUP BY 1, 2),
      out AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rrf DESC, doc_id) AS rn FROM fused)
      SELECT query_id, doc_id, rrf FROM out WHERE rn <= 5""")),


    // The same hybrid legs fused SCORE-aware: per-query min-max
    // normalization to [0,1] within each top-10 leg, then a weighted
    // sum (sparse 0.4, dense 0.6) — the tunable-ratio combiner used
    // when leg scores are meaningful, vs RRF's rank-only fusion.
    // A constant-score leg normalizes to 1.0 (its ranking carries no
    // information, so every member gets the full leg weight).
    QueryDef("ext_hybrid_weighted", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val sparse = graft.ext.Retrieval.bm25TopK(
        docs, graft.ext.Retrieval.dfDerivedQueries(docs, n = 4, perQuery = 3), k = 10)
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id").isin(100L, 200L, 300L, 400L))
        .select(((col("vec_id") / lit(100)).cast("long") - lit(1)).as("query_id"),
          col("embedding").as("probe_vec"))
      val dense = graft.ext.Similarity.bruteForceTopK(
          vecs, "vec_id", "embedding", probes, "query_id", "probe_vec", k = 10)
        .withColumnRenamed("vec_id", "doc_id")
      graft.ext.Retrieval.weightedFuse(Seq((sparse, 0.4), (dense, 0.6)), k = 5)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      qt AS (SELECT CAST((rnk - 11) // 3 AS BIGINT) AS query_id, term, df
        FROM (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
        WHERE rnk BETWEEN 11 AND 22),
      sp_scored AS (SELECT qt.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN qt USING (term) CROSS JOIN stats GROUP BY 1, 2),
      sp10 AS (SELECT query_id, doc_id, score FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS r FROM sp_scored) WHERE r <= 10),
      v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      p AS (SELECT vec_id // 100 - 1 AS query_id, e AS pe FROM v
        WHERE vec_id IN (100, 200, 300, 400)),
      dn_scored AS (SELECT p.query_id, v.vec_id AS doc_id,
          round(list_inner_product(v.e, p.pe) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
        FROM v CROSS JOIN p),
      dn10 AS (SELECT query_id, doc_id, score FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS r FROM dn_scored) WHERE r <= 10),
      legs AS (
        SELECT query_id, doc_id,
          0.4 * CASE WHEN mx = mn THEN 1.0
            ELSE (score - mn) / (mx - mn) END AS ws
        FROM (SELECT *, max(score) OVER (PARTITION BY query_id) AS mx,
            min(score) OVER (PARTITION BY query_id) AS mn FROM sp10)
        UNION ALL
        SELECT query_id, doc_id,
          0.6 * CASE WHEN mx = mn THEN 1.0
            ELSE (score - mn) / (mx - mn) END AS ws
        FROM (SELECT *, max(score) OVER (PARTITION BY query_id) AS mx,
            min(score) OVER (PARTITION BY query_id) AS mn FROM dn10)),
      fused AS (SELECT query_id, doc_id,
          round(sum(ws) + 1e-9, 6) AS fused
        FROM legs GROUP BY 1, 2),
      out AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY fused DESC, doc_id) AS rn FROM fused)
      SELECT query_id, doc_id, fused FROM out WHERE rn <= 5""")),

    // KMV set-expression cardinality (Beyer et al., SIGMOD 2007): the
    // bottom-k synopsis answers UNION / INTERSECTION / DIFFERENCE /
    // Jaccard over distinct-shingle sets — what the HLL registers
    // cannot (inclusion-exclusion variance explodes on small overlaps).
    // Two sources' 3-shingle vocabularies, k=256; every estimate is
    // md5-hex order statistics both engines replay bit-identically, so
    // the estimates THEMSELVES hash-match (exact figures alongside).
    // At 100 TB the standing state is ≤ k hashes per source — corpus
    // overlap audits off 3 KB per source, no re-scan.
    QueryDef("ext_kmv_setops", (s, dir) => {
      import graft.functions.KmvSketch
      val k = 256
      val sh = Tables.documents(s, dir)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"),
          explode(TextOps.stringShingles(col("text"), 3)).as("term"))
      val skA = KmvSketch.bottomK(sh.filter(col("source") === "src0"),
        "term", k)
      val skB = KmvSketch.bottomK(sh.filter(col("source") === "src1"),
        "term", k)
      val flags = sh.groupBy("term").agg(
        max(when(col("source") === "src0", 1).otherwise(0)).as("ia"),
        max(when(col("source") === "src1", 1).otherwise(0)).as("ib"))
      val exact = flags.agg(
        count(lit(1)).as("union_exact"),
        sum(col("ia") * col("ib")).cast("long").as("inter_exact"))
      KmvSketch.setOps(skA, skB, k).crossJoin(exact)
    }, Some(s"""WITH sh AS (SELECT source,
          unnest(list_distinct(list_transform(range(1, len(toks) - 1),
            i -> array_to_string(toks[i:i+2], ' ')))) AS term
        FROM (SELECT source, $DuckToks AS toks FROM documents
              WHERE source IN ('src0', 'src1'))),
      ha AS (SELECT DISTINCT substr(md5(term), 1, 12) AS hash
        FROM sh WHERE source = 'src0'),
      hb AS (SELECT DISTINCT substr(md5(term), 1, 12) AS hash
        FROM sh WHERE source = 'src1'),
      ska AS (SELECT hash FROM ha ORDER BY hash LIMIT 256),
      skb AS (SELECT hash FROM hb ORDER BY hash LIMIT 256),
      sku AS (SELECT DISTINCT hash FROM
          (SELECT hash FROM ska UNION ALL SELECT hash FROM skb)
        ORDER BY hash LIMIT 256),
      estu AS (SELECT count(*) AS kp,
          round(CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
            ELSE 255::DOUBLE * 281474976710656::DOUBLE / ('0x' || max(hash))::BIGINT END
            + 1e-9, 6) AS u FROM sku),
      estb AS (SELECT
          round(CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
            ELSE 255::DOUBLE * 281474976710656::DOUBLE / ('0x' || max(hash))::BIGINT END
            + 1e-9, 6) AS b FROM skb),
      wit AS (SELECT count(*) AS w FROM sku
        WHERE hash IN (SELECT hash FROM ska)
          AND hash IN (SELECT hash FROM skb)),
      flags AS (SELECT term,
          max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ia,
          max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS ib
        FROM sh GROUP BY 1),
      ex AS (SELECT CAST(count(*) AS BIGINT) AS union_exact,
          CAST(sum(ia * ib) AS BIGINT) AS inter_exact FROM flags)
      SELECT round(u + 1e-9, 6) AS union_est,
        round(w / kp * u + 1e-9, 6) AS inter_est,
        round(greatest(u - b, 0.0) + 1e-9, 6) AS diff_est,
        round(w / kp + 1e-9, 6) AS jaccard_est,
        union_exact, inter_exact
      FROM estu, estb, wit, ex""")),

    // Flesch reading-ease per source: vowel-group syllables + heuristic
    // sentence segmentation (the ext_text_sentences punctuation
    // injection, since the fixture prose is unpunctuated), reduced to
    // per-source curation signals. Everything per-doc is exact integer
    // counts → one double formula with identical operand order on both
    // engines; only the final per-source avg sees summation-order ulps,
    // absorbed by round(4).
    QueryDef("ext_text_readability", (s, dir) => {
      val punct = regexp_replace(col("text"), lit(" data "), lit(". "))
      val perDoc = Tables.documents(s, dir).select(col("source"),
        greatest(TextOps.tokenCount(punct), lit(1)).cast("double")
          .as("words"),
        greatest(size(TextOps.sentences(punct)), lit(1)).cast("double")
          .as("sents"),
        greatest(TextOps.syllableCount(punct), lit(1)).cast("double")
          .as("syll"),
        TextOps.fleschReadingEase(punct).as("flesch"))
      perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("words") / col("sents")) + lit(1e-9), 4)
          .as("avg_wps"),
        round(avg(col("syll") / col("words")) + lit(1e-9), 4)
          .as("avg_spw"),
        round(avg(col("flesch")) + lit(1e-9), 4).as("avg_flesch"),
        sum(when(col("flesch") < 30, 1L).otherwise(0L)).as("n_hard"))
    }, Some(s"""WITH d AS (SELECT source,
          greatest(len($DuckPunctToks), 1)::DOUBLE AS words,
          greatest(len(list_filter(list_transform(
            regexp_extract_all(regexp_replace(text, ' data ', '. ', 'g'),
              '[^.!?]+[.!?]+|[^.!?]+$$'),
            s -> trim(s)), s -> len(s) > 0)), 1)::DOUBLE AS sents,
          greatest(len(regexp_extract_all(
            lower(regexp_replace(text, ' data ', '. ', 'g')),
            '[aeiouy]+')), 1)::DOUBLE AS syll
        FROM documents),
      f AS (SELECT source, words, sents, syll,
          206.835 - 1.015 * words / sents - 84.6 * syll / words AS flesch
        FROM d)
      SELECT source, count(*) AS n_docs,
        round(avg(words / sents) + 1e-9, 4) AS avg_wps,
        round(avg(syll / words) + 1e-9, 4) AS avg_spw,
        round(avg(flesch) + 1e-9, 4) AS avg_flesch,
        CAST(sum(CASE WHEN flesch < 30 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hard
      FROM f GROUP BY 1"""))
  )

  /** DuckDB twin of [[TextOps.tokens]] over the punctuation-injected
    * text (the readability query's word count). */
  private val DuckPunctToks =
    """list_filter(string_split_regex(
      trim(regexp_replace(text, ' data ', '. ', 'g')), '\s+'),
      x -> len(x) > 0)"""
}
