package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for LLM training-data pipelines (extension
 * surface, BASELINE.json north star): token counting, quality scoring,
 * language ID, document fingerprinting.
 *
 * Everything is a pure Column expression over built-in (codegen'd) string
 * and higher-order array functions, or graft's own codegen'd expressions
 * ([[wordStats]]) — no UDFs, so these run inside whole-stage codegen and
 * scale linearly with input splits: per-document work with no shuffle at
 * all until an aggregation asks for one.
 */
object TextOps {

  /**
   * Let-binding for Column expressions: evaluates `bound` ONCE per row
   * and exposes it to `body` as a lambda variable. Higher-order array
   * functions are interpreted, and a lambda that references a subtree
   * re-evaluates it per element — binding first turns O(elements ×
   * subtree) into O(subtree + elements).
   */
  def letCol(bound: Column)(body: Column => Column): Column =
    element_at(transform(array(struct(bound.as("v"))),
      s => body(s.getField("v"))), 1)

  /**
   * `c` as the output of a one-row generator (`explode(array(c))`), for a
   * value that a later filter reads: Catalyst pushes a filter through a
   * Project by inlining the aliased expression, and a filter has no
   * common-subexpression elimination, so a Project-then-Filter evaluates
   * `c` in the filter AND in the Project (once per reference). A filter
   * on a generator output stays above the generator, so `c` runs once
   * per row and the filter reads the column. One generator per select.
   */
  def evalOnce(c: Column): Column = explode(array(c))

  /** Whitespace tokenizer (split on runs of whitespace, drop empties). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /**
   * Crawl-text cleanup: strip control characters (except tab/newline),
   * collapse whitespace runs to one space, trim. The normalization pass
   * that runs BEFORE fingerprinting/dedup so byte-level noise (NUL bytes
   * from bad decodes, \r\n vs \n, trailing spaces) can't split otherwise
   * identical documents into distinct hash groups. Pure codegen'd
   * regexp_replace chain — streams through the scan; patterns avoid
   * lookarounds so RE2-based engines express the identical transform.
   */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
      "\\s+", " "))

  /**
   * Sentence segmentation (heuristic, engine-portable): extract maximal
   * runs ending in sentence-final punctuation (or the unterminated
   * tail), trimmed, empties dropped. Returns the array of sentences;
   * pair with posexplode for one row per sentence. An EXTRACTION, not a
   * lookbehind split, so RE2-based engines (no lookarounds) express the
   * identical segmentation.
   */
  def sentences(text: Column): Column =
    filter(transform(
      regexp_extract_all(text, lit("[^.!?]+[.!?]+|[^.!?]+$"), lit(0)),
      s => trim(s)), s => length(s) > 0)

  /** Token count — whitespace definition. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /**
   * BPE-ish token count: alphanumeric runs plus each standalone
   * non-space symbol, the way a byte-pair tokenizer's pre-tokenizer
   * splits — approximates LLM token cost without a vocab file. Written
   * as an extraction (not a lookaround split) so RE2-based engines can
   * express the identical count.
   */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /**
   * Syllable estimate: count of maximal vowel-group runs in the
   * lowercased text (the standard dictionary-free heuristic — "readable"
   * → read·a·ble's 3 groups ea/a/e). Exact only for a dictionary, but
   * deterministic, engine-portable (no lookarounds), and monotone in
   * real syllable count — which is all a corpus-level readability
   * signal needs.
   */
  def syllableCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))

  /**
   * Flesch reading-ease score: `206.835 − 1.015·(words/sentences) −
   * 84.6·(syllables/words)`, with [[syllableCount]]'s vowel-group
   * estimate and [[sentences]]' heuristic segmentation. A quality
   * signal for training-data curation (very low scores flag tables /
   * code / boilerplate masquerading as prose; implausibly high ones
   * flag token soup). Pure codegen'd expression over the scan —
   * composes with the gopher gates at zero extra passes. Denominators
   * clamp at 1 so empty/unterminated text scores instead of NULLing.
   */
  def fleschReadingEase(text: Column): Column = {
    val words = greatest(tokenCount(text), lit(1)).cast("double")
    val sents = greatest(size(sentences(text)), lit(1)).cast("double")
    val syll = greatest(syllableCount(text), lit(1)).cast("double")
    lit(206.835) - lit(1.015) * words / sents - lit(84.6) * syll / words
  }

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, 0d).otherwise(
      (n - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") / n)
  }

  /** Mean token length in characters (degenerate docs → 0). */
  def meanTokenLen(text: Column): Column = letCol(tokens(text)) { ts =>
    when(size(ts) === 0, 0d).otherwise(
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ts))
  }

  private val StopwordsEn = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as", "at", "by")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = letCol(tokens(text)) { ts =>
    when(size(ts) === 0, 0d).otherwise(
      size(filter(ts, t => lower(t).isin(StopwordsEn: _*))).cast("double") / size(ts))
  }

  /**
   * Composite quality score in [0,1]: length band + stopword presence +
   * low punctuation noise + sane mean token length. Heuristic weights in
   * the style of C4/Gopher quality filters (public recipes).
   */
  def qualityScore(text: Column): Column = {
    val lenScore  = least(length(text).cast("double") / 500d, lit(1d)) * 0.4
    val stopScore = least(stopwordRatio(text) * 5d, lit(1d)) * 0.3
    val punctOk   = when(punctRatio(text) < 0.2, 0.15).otherwise(0d)
    val tokLenOk  = when(meanTokenLen(text).between(2d, 12d), 0.15).otherwise(0d)
    lenScore + stopScore + punctOk + tokLenOk
  }

  /**
   * Word-blocklist gate (the C4 "bad words" filter): per doc, the count
   * of blocklisted token occurrences and a `blocked` flag. The list
   * rides the scan as a literal — scan-only, no shuffle — which is the
   * right regime for curated lists (hundreds to low thousands of
   * terms). For organization-scale lists that outgrow a literal, use
   * [[blocklistGateFrame]].
   */
  def blocklistGate(df: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklistGate needs at least one term")
    val lowered = terms.map(_.toLowerCase)
    df.select(col(idCol),
        size(filter(tokens(lower(col(textCol))),
          t => t.isin(lowered: _*))).cast("long").as("blocked_tokens"))
      .withColumn("blocked", col("blocked_tokens") > 0)
  }

  /**
   * [[blocklistGate]] with the list as a FRAME — the decontamination
   * shape for lists too large to ship as a scan literal: explode tokens,
   * equi-join the (term) frame (broadcast while it fits, shuffle join
   * beyond), count hits per doc, left-join the verdict back so clean
   * docs report zero. Identical output to the literal form (spec-pinned).
   */
  def blocklistGateFrame(df: DataFrame, idCol: String, textCol: String,
                         terms: DataFrame): DataFrame = {
    val hits = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__t"))
      .join(terms.select(lower(col("term")).as("__t")), Seq("__t"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__hits"))
    df.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__hits"), lit(0L)).as("blocked_tokens"))
      .withColumn("blocked", col("blocked_tokens") > 0)
  }

  private val StopSetEn: Set[String] = StopwordsEn.toSet

  /** Plain-Scala twin of [[qualityScore]], same IEEE operations in the
    * same order — bit-identical scores. */
  private[graft] def qualityScoreTyped(text: String): Double = {
    val len = text.length
    val lenScore = math.min(len / 500d, 1d) * 0.4
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val stopRatio =
      if (n == 0) 0d
      else toks.count(t => StopSetEn(t.toLowerCase)).toDouble / n
    val stopScore = math.min(stopRatio * 5d, 1d) * 0.3
    val punctRatio =
      if (len == 0) 0d
      else (len - text.replaceAll("[\\p{Punct}]", "").length).toDouble / len
    val punctOk = if (punctRatio < 0.2) 0.15 else 0d
    val meanTok = if (n == 0) 0d else toks.map(_.length.toLong).sum.toDouble / n
    val tokLenOk = if (meanTok >= 2d && meanTok <= 12d) 0.15 else 0d
    lenScore + stopScore + punctOk + tokLenOk
  }

  /**
   * Hot-path [[qualityScore]]: one compiled Scala evaluation per row
   * instead of four interpreted higher-order array walks — measured ~10×
   * on the curation chain at the fixture (interpreted HOFs cost ~5 ms/doc
   * even letCol-bound). Same IEEE operations in the same order, so scores
   * are bit-identical to the Column form (asserted in PropertySpec); use
   * whichever fits — this one in corpus-scale scans, the Column form
   * where expression composition matters.
   */
  val qualityScoreFast: UserDefinedFunction =
    udf((text: String) => qualityScoreTyped(text))

  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "to", "in", "that", "with"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "en", "para", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "für", "nicht"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不"))

  /**
   * N-gram/stopword-marker language ID heuristic: score each candidate
   * language by marker-token hits, pick the argmax (deterministic
   * tie-break by language code; 'und' when nothing matches).
   */
  def langId(text: Column): Column = letCol(tokens(lower(text))) { ts =>
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(size(filter(ts, t => t.isin(markers: _*))).as("hits"),
             lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  /** Language codes in ascending order and a marker → language-indices
    * probe map (markers overlap across languages: 'la' is French AND
    * Spanish), so [[langIdTyped]] pays one hash probe per token instead
    * of five interpreted array walks per row. */
  private val LangCodes: Array[String] = LangMarkers.keys.toArray.sorted
  private val LangMarkerIndex: Map[String, List[Int]] =
    LangCodes.zipWithIndex.flatMap { case (l, i) =>
      LangMarkers(l).map(_ -> i)
    }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toList }

  /** Plain-Scala twin of [[langId]]: same tokenization (lowercase →
    * trim → whitespace split, empties dropped), same per-language
    * marker-hit counts, same (hits, lang) argmax with the
    * language-code tie-break, 'und' when nothing matches (including
    * the null/empty/whitespace-only guard branches). Equivalence to
    * the Column form is pinned in PropertySpec. */
  private[graft] def langIdTyped(text: String): String = {
    if (text == null) return "und"
    val toks = text.toLowerCase.trim.split("\\s+")
    val hits = new Array[Int](LangCodes.length)
    var j = 0
    while (j < toks.length) {
      val t = toks(j)
      if (t.nonEmpty) LangMarkerIndex.get(t) match {
        case Some(ixs) => ixs.foreach(hits(_) += 1)
        case None => ()
      }
      j += 1
    }
    // languages ascend, ties keep the LATER code — greatest() over
    // (hits, lang) structs resolves ties to the max language code
    var best = 0
    var i = 1
    while (i < hits.length) { if (hits(i) >= hits(best)) best = i; i += 1 }
    if (hits(best) > 0) LangCodes(best) else "und"
  }

  /**
   * Hot-path [[langId]] (the [[qualityScoreFast]] convention): one
   * compiled Scala evaluation per row instead of five interpreted
   * higher-order marker walks plus a greatest() over struct literals —
   * and a ~30-node expression tree shrinks to one UDF call, cutting
   * the fresh-JVM analysis/codegen constant the dq_label_agreement
   * cold floor was paying (guide §4: prefer per-task-cheap compiled
   * forms in hot paths). Identical predictions (PropertySpec-pinned
   * against the Column form; every consumer is oracle-gated).
   */
  val langIdFast: UserDefinedFunction = udf((text: String) => langIdTyped(text))

  /**
   * Repeated n-gram fraction (a Gopher-style repetition signal):
   * 1 − distinct(n-grams)/total(n-grams). High values mark the looping,
   * boilerplate-heavy text a training corpus filters out. 0 for docs
   * shorter than n tokens.
   */
  def repetitionRatio(text: Column, n: Int = 2): Column =
    letCol(tokens(lower(text))) { ts =>
      // guard first: Spark's sequence(1, stop) DESCENDS when stop < 1
      // instead of producing an empty array
      when(size(ts) < n, 0d).otherwise(
        letCol(transform(sequence(lit(1), size(ts) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(o => element_at(ts, i + o)): _*))) {
          grams =>
            lit(1d) - size(array_distinct(grams)).cast("double") / size(grams)
        })
    }

  /**
   * 64-bit document fingerprint: xxhash64 over the
   * whitespace-normalized, lowercased text — equal fingerprints ==
   * equal normalized content (modulo 64-bit collisions).
   */
  def fingerprint(text: Column): Column =
    xxhash64(concat_ws(" ", tokens(lower(text))))

  /**
   * Distinct k-token STRING shingles (space-joined), empty for docs
   * shorter than k tokens — the un-hashed twin of
   * [[windowFingerprints]] for operators whose oracle re-derives the
   * shingle text (prefix-filter join, HLL cardinality). Spark's
   * sequence(1, stop) DESCENDS for stop < 1, hence the guard.
   */
  def stringShingles(text: Column, k: Int): Column =
    letCol(tokens(lower(text))) { ts =>
      when(size(ts) < k, array().cast("array<string>"))
        .otherwise(array_distinct(
          transform(sequence(lit(1), size(ts) - (k - 1)),
            i => concat_ws(" ", slice(ts, i, lit(k))))))
    }

  /**
   * Rolling-window fingerprints: hash of every k-token window
   * (winnowing-style; the min over windows is a cheap robust signature).
   */
  def windowFingerprints(text: Column, k: Int = 8): Column =
    letCol(tokens(lower(text))) { ts =>
      when(size(ts) < k, array(xxhash64(concat_ws(" ", ts))))
        .otherwise(transform(sequence(lit(1), size(ts) - (k - 1)),
          i => xxhash64(concat_ws(" ", slice(ts, i, lit(k))))))
    }

  import org.apache.spark.sql.DataFrame

  /**
   * Per-document token Shannon entropy (nats): H = ln n − (Σ c·ln c)/n
   * over within-doc token counts — the low-entropy tail is boilerplate /
   * keyword-stuffed text that length and stopword ratios miss. Frame
   * form (not a Column): the count needs a (doc, token) aggregation, so
   * the natural scale shape is explode → two codegen'd hash aggregates,
   * never an O(tokens²) per-row array walk. Output: (idCol, n_tokens,
   * entropy), entropy rounded to 6 digits.
   */
  def tokenEntropyFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c").cast("double") * log(col("__c").cast("double"))).as("__s"))
      .select(col(idCol), col("__n").as("n_tokens"),
        round(log(col("__n").cast("double")) - col("__s") / col("__n")
          + lit(1e-9), 6).as("entropy"))

  /**
   * Corpus-bigram language-model score — the deterministic stand-in for
   * the KenLM-perplexity quality gate (CCNet-style): per document, the
   * mean log conditional probability ln(c(w1,w2)/c(w1·)) of its bigrams
   * under the corpus's own bigram counts. Rare/garbled transitions score
   * low. Positions come from posexplode + a lead window (one shuffle on
   * the doc key); the two count joins are plain hash joins keyed by
   * token — at corpus scale the model tables are far smaller than the
   * bigram stream and broadcast when they fit, but correctness never
   * depends on it. Docs with < 2 tokens have no bigrams and are absent.
   * Output: (idCol, n_bigrams, lm_score), score rounded to 6 digits.
   */
  /**
   * Interpolated Kneser–Ney bigram LM score (Kneser & Ney 1995; Chen &
   * Goodman 1999's interpolated form) — [[lmScoreFrame]]'s MLE estimate
   * upgraded to the smoothing real LM quality gates use: per bigram,
   *   P(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
   *            + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
   * — absolute discounting plus the continuation-probability backoff
   * that scores a word by how many CONTEXTS it follows, not how often
   * it occurs (the property that tames "Francisco": frequent but
   * single-context words stop inflating unseen combinations). Scoring
   * the training corpus itself, every scored bigram has c ≥ 1 > D, so
   * probabilities are strictly positive without an unknown-word floor.
   *
   * Scale shape: identical to [[lmScoreFrame]] — ONE corpus-sized
   * shuffle builds the bigram count table; c(w1·), N1+(w1·), N1+(·w2)
   * and the 1-row type total all derive from that vocab²-bounded table
   * (hash aggs over it, never a second corpus scan), and the scoring
   * joins are keyed by token against model tables AQE can broadcast.
   * Output: (idCol, n_bigrams, kn_score), score = mean ln P rounded to
   * 6 digits; docs with < 2 tokens are absent.
   */
  def knScoreFrame(df: DataFrame, idCol: String, textCol: String,
                   discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount=$discount must lie in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      posexplode(tokens(lower(col(textCol)))).as(Seq("__pos", "w1")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val bigrams = toks.withColumn("w2", lead(col("w1"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("w1"), col("w2"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val cb = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
      .transform(graft.core.CacheRegistry.persistTracked)
    // c(w1·) and N1+(w1·) ride one agg; N1+(·w2) and the type total are
    // two more aggs over the same vocab²-bounded count table
    val cu = cb.groupBy("w1")
      .agg(sum(col("__c2")).as("__c1"), count(lit(1)).as("__t1"))
    val ct = cb.groupBy("w2").agg(count(lit(1)).as("__t2"))
    val tot = cb.agg(count(lit(1)).as("__tot"))
    val d = lit(discount)
    // expression shape mirrors the oracle SQL exactly so IEEE division/
    // multiply sequences agree term-for-term across engines
    val p = greatest(col("__c2").cast("double") - d, lit(0.0)) / col("__c1") +
      d * col("__t1") / col("__c1") * (col("__t2").cast("double") / col("__tot"))
    bigrams.join(cb, Seq("w1", "w2")).join(cu, Seq("w1")).join(ct, Seq("w2"))
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(p)) + lit(1e-9), 6).as("kn_score"))
  }

  def lmScoreFrame(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      posexplode(tokens(lower(col(textCol)))).as(Seq("__pos", "w1")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val bigrams = toks.withColumn("w2", lead(col("w1"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("w1"), col("w2"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val cb = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
    val cu = bigrams.groupBy("w1").agg(count(lit(1)).as("__c1"))
    bigrams.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("__c2").cast("double") / col("__c1")))
          + lit(1e-9), 6).as("lm_score"))
  }

  /**
   * C4-style cross-document boilerplate removal: a sentence whose
   * case-normalized form appears in >= `minDocs` DISTINCT documents is
   * boilerplate (navigation chrome, cookie banners, license footers) and
   * is stripped from every document; each document is reassembled from
   * its surviving sentences in original order. Returns
   * (idCol, clean_text, n_removed, n_sentences) — documents whose text
   * segments to nothing come back with clean_text = '' and zero counts.
   *
   * Scale shape: segmentation + explode are scan-side; the
   * boilerplate verdict is ONE shuffle on the 64-bit sentence
   * fingerprint (map-side partial aggregation collapses per-partition
   * repeats of exactly the sentences this operator targets); verdicts
   * join back on the same fingerprint key, so AQE can pick
   * broadcast when the distinct-sentence table is small without being
   * forced to; reassembly is one shuffle on the document id. Nothing is
   * pairwise, and no document's text is ever compared to another's —
   * repeated-sentence counting does all the work.
   */
  /**
   * Gopher-style within-document repetition signals (Rae et al. 2021,
   * Table A1 — the quality-gate family `ext_gopher_rules`' word stats
   * don't cover). Per document:
   *  - `dup_line_frac` / `dup_line_char_frac` — fraction of sentence
   *    occurrences (and of their characters) whose lowercased sentence
   *    text appears more than once in the document. Crawl "lines" are
   *    sentence segments here ([[sentences]]) — the fixture corpus
   *    carries no newlines; the operator is delimiter-agnostic beyond
   *    that choice.
   *  - `top_bigram_char_frac` — characters covered by all occurrences
   *    of the document's most frequent token bigram over total token
   *    characters (ties broken toward the lexicographically smallest
   *    bigram, so the stat is deterministic).
   *  - `dup_ngram_token_frac` — fraction of tokens covered by n-token
   *    windows that repeat WITHIN the document (interval-merged via
   *    [[Dedup.spanMerge]], so overlapping repeats are counted once —
   *    the "fraction of characters in duplicated n-grams" analogue on
   *    token granularity).
   * Zero-filled for documents with no sentences / tokens / windows.
   *
   * Scale shape: three explode → hash-aggregate legs, each shuffling on
   * (doc, key) then (doc) — map-side combine collapses exactly the
   * repeats being measured; nothing is pairwise and no cross-document
   * state exists at all (this family is embarrassingly per-doc).
   */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, ngram: Int = 5): org.apache.spark.sql.DataFrame = {
    require(ngram >= 2, "ngram must be >= 2")
    def frac(num: Column, den: Column): Column =
      round(when(den > 0, num.cast("double") / den).otherwise(lit(0.0))
        + lit(1e-9), 6)
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val docBase = toks.select(col(idCol),
      size(col("__toks")).cast("long").as("__n_tokens"),
      aggregate(col("__toks"), lit(0L), (a, t) => a + length(t)).as("__tok_chars"))
    // sentence duplicates (case-insensitive, like removeBoilerplate)
    val sc = df.select(col(idCol),
        explode(sentences(col(textCol))).as("__sent"))
      .select(col(idCol), lower(col("__sent")).as("__sent"))
      .groupBy(col(idCol), col("__sent")).agg(count(lit(1)).as("__c"))
    val lineStats = sc.groupBy(col(idCol)).agg(
      sum(col("__c")).as("__n_lines"),
      sum(when(col("__c") >= 2, col("__c")).otherwise(0L)).as("__dl"),
      sum(length(col("__sent")) * col("__c")).as("__lc"),
      sum(when(col("__c") >= 2, length(col("__sent")) * col("__c"))
        .otherwise(0L)).as("__dlc"))
    // most frequent bigram: min over struct(-count, bigram) is (highest
    // count, then smallest bigram) — a deterministic argmax
    val bc = toks.filter(size(col("__toks")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => concat_ws(" ", slice(col("__toks"), i, lit(2))))).as("__bg"))
      .groupBy(col(idCol), col("__bg")).agg(count(lit(1)).as("__c"))
    val topStats = bc
      .select(col(idCol),
        struct((-col("__c")).as("nc"), col("__bg").as("bg")).as("__s"))
      .groupBy(col(idCol)).agg(min(col("__s")).as("__t"))
      .select(col(idCol), (-col("__t.nc")).as("__topc"),
        (length(col("__t.bg")) - 1).cast("long").as("__topchars"))
    // within-doc repeated n-gram coverage
    val w = toks.filter(size(col("__toks")) >= ngram)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__toks")) - (ngram - 1)),
        i => struct(i.as("s"), xxhash64(
          concat_ws(" ", slice(col("__toks"), i, lit(ngram)))).as("fp")))).as("__w"))
      .select(col(idCol), col("__w.s").as("__s"), col("__w.fp").as("__fp"))
    val cov = w.groupBy(col(idCol), col("__fp"))
      .agg(count(lit(1)).as("__c"), collect_list(col("__s")).as("__starts"))
      .filter(col("__c") >= 2)
      .select(col(idCol), explode(col("__starts")).as("__s"))
      .groupBy(col(idCol)).agg(sort_array(collect_list(col("__s"))).as("__ss"))
      .select(col(idCol),
        Dedup.spanMerge(col("__ss"), ngram).getField("covered").as("__cov"))
    docBase.join(lineStats, Seq(idCol), "left")
      .join(topStats, Seq(idCol), "left")
      .join(cov, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n_lines"), lit(0L)).as("n_lines"),
        frac(coalesce(col("__dl"), lit(0L)), coalesce(col("__n_lines"), lit(0L)))
          .as("dup_line_frac"),
        frac(coalesce(col("__dlc"), lit(0L)), coalesce(col("__lc"), lit(0L)))
          .as("dup_line_char_frac"),
        frac(coalesce(col("__topc") * col("__topchars"), lit(0L)),
          col("__tok_chars")).as("top_bigram_char_frac"),
        frac(coalesce(col("__cov"), lit(0L)), col("__n_tokens"))
          .as("dup_ngram_token_frac"))
  }

  def removeBoilerplate(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, minDocs: Int): org.apache.spark.sql.DataFrame = {
    val sents = df.select(col(idCol),
        posexplode(sentences(col(textCol))).as(Seq("__idx", "__sent")))
      .withColumn("__fp", xxhash64(lower(col("__sent"))))
    val counts = sents.groupBy(col("__fp"))
      .agg(countDistinct(col(idCol)).as("__nd"))
    val agged = sents.join(counts, Seq("__fp"))
      .withColumn("__boiler", col("__nd") >= minDocs)
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!col("__boiler"),
            struct(col("__idx"), col("__sent"))))),
          p => p.getField("__sent")), " ").as("clean_text"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_removed"),
        count(lit(1)).as("n_sentences"))
    df.select(col(idCol)).join(agged, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_sentences"), lit(0L)).as("n_sentences"))
  }

  /**
   * Cross-document duplicate n-gram fraction — the corpus-level twin of
   * [[repetitionSignals]]'s within-doc ratios, and the per-document
   * overlap readout Dolma/RefinedWeb-style pipelines record before
   * dedup decisions: for each doc, the fraction of its DISTINCT word
   * n-grams that occur in at least `minDocs` documents corpus-wide
   * (itself included, so `minDocs = 2` means "shared with at least one
   * other doc"). Docs shorter than `n` tokens contribute their whole
   * text as one gram, mirroring the near-dup shingler's fallback.
   *
   * Shape: one codegen scan builds per-doc distinct gram fingerprints
   * (xxhash64 — the shuffle moves 8-byte keys, not strings, the same
   * trick [[removeBoilerplate]] uses), one map-side-combined count
   * shuffle, one equi-join back, one per-doc aggregate. Nothing is
   * pairwise; corpus growth costs one more scan's worth of shuffle.
   */
  def crossDupNgramFraction(df: DataFrame, idCol: String, textCol: String,
                            n: Int, minDocs: Long = 2): DataFrame = {
    require(n >= 1, s"n=$n must be positive")
    // persist barrier: the fingerprint frame feeds BOTH the df-count
    // aggregation and the join's probe side — without it the
    // tokenize/explode/hash scan of the whole corpus runs twice
    val grams = graft.core.CacheRegistry.persistTracked(df
      .select(col(idCol), tokens(lower(col(textCol))).as("__t"))
      .select(col(idCol), explode(array_distinct(
        when(size(col("__t")) < n, array(concat_ws(" ", col("__t"))))
          .otherwise(transform(sequence(lit(1), size(col("__t")) - (n - 1)),
            i => concat_ws(" ", slice(col("__t"), i, lit(n))))))).as("__gram"))
      .select(col(idCol), xxhash64(col("__gram")).as("__fp")))
    val dfreq = grams.groupBy("__fp").agg(count(lit(1)).as("__df"))
    grams.join(dfreq, Seq("__fp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        round(avg(when(col("__df") >= minDocs, 1.0d).otherwise(0.0d))
          + lit(1e-9), 6).as("dup_ngram_frac"))
  }

  /**
   * Per-document word statistics in one codegen'd pass
   * (`graft_word_stats`, [[graft.functions.WordStats]]):
   * `struct(n_words, sum_len, max_mult)` over [[tokens]] — token count,
   * summed token length in code points, and the count of the most
   * frequent (case-sensitive) token. NULL for NULL text or text without a
   * token. Needs the graft functions in the session (`GraftSession`, or
   * `GraftFunctions.register`).
   */
  def wordStats(text: Column): Column =
    call_function(graft.functions.GraftFunctions.WordStatsName, text)

  /**
   * The Gopher word-stat rules (Rae et al. 2021 rule family) over a
   * [[wordStats]] struct: `n_words`, `mean_word_len` and `top_tok_frac`
   * (each ratio `round(x + 1e-9, 4)`), and `passes` — word count, mean
   * word length and top-token dominance inside the published ranges.
   * The one source of `ext_gopher_rules` and [[gopherGate]].
   */
  def gopherRules(ws: Column, minWords: Long = 20, maxWords: Long = 1000,
                  minMwl: Double = 3.0, maxMwl: Double = 10.0,
                  maxTtf: Double = 0.2): Seq[Column] = {
    val n = ws.getField("n_words")
    val mwl = round(ws.getField("sum_len").cast("double") / n + lit(1e-9), 4)
    val ttf = round(ws.getField("max_mult").cast("double") / n + lit(1e-9), 4)
    Seq(n.as("n_words"), mwl.as("mean_word_len"), ttf.as("top_tok_frac"),
      (n.between(minWords, maxWords) && mwl.between(minMwl, maxMwl) &&
        ttf <= maxTtf).as("passes"))
  }

  /**
   * Gopher-style quality gate as a reusable frame transform: keep the
   * rows whose [[gopherRules]] pass — exactly the docs `ext_gopher_rules`
   * marks passing (PropertySpec pins it). One [[wordStats]] call per row
   * ([[evalOnce]]) and a filter over its struct: zero exchanges at any
   * scale. Rows are gated independently — ids are one-doc-per-row, as
   * every caller (batch curation, streaming triggers) already supplies.
   */
  def gopherGate(df: DataFrame, idCol: String, textCol: String,
                 minWords: Long = 20, maxWords: Long = 1000,
                 minMwl: Double = 3.0, maxMwl: Double = 10.0,
                 maxTtf: Double = 0.2): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("__ws", evalOnce(wordStats(col(textCol))))
      .filter(gopherRules(col("__ws"), minWords, maxWords, minMwl, maxMwl, maxTtf).last)
      .drop("__ws")
  }

  /**
   * Document-level PMI collocations (Church & Hanks 1990): for pairs of
   * frequent terms, how much more often they share a document than
   * independence predicts — ln(n_ab·N / (n_a·n_b)) over document
   * presence counts. The corpus-analysis staple behind topic audits and
   * stop-phrase mining. The pair universe is BOUNDED by construction:
   * only the `vocab` most document-frequent terms after skipping the
   * `skip` most common (stopword-shaped, the [[graft.ext.Retrieval]]
   * df-rank convention) participate, so the blowup knob is explicit —
   * the quadratic is C(vocab, 2) at most, never corpus-sized.
   *
   * Scale shape: (doc, term)-distinct tokens join the BROADCAST
   * vocabulary; the within-doc pair join is doc-keyed with ≤ vocab
   * matching terms per doc; pair counts hash-aggregate map-side; N and
   * the per-term document counts ride broadcast.
   *
   * @return (term_a, term_b, n_ab, pmi) for pairs sharing ≥ `minPairs`
   *         docs, term_a < term_b, pmi 6-digit rounded
   */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   vocab: Int = 30, skip: Int = 10,
                   minPairs: Long = 5): DataFrame = {
    require(vocab >= 2 && skip >= 0 && minPairs >= 1,
      s"need vocab >= 2, skip >= 0, minPairs >= 1 (got $vocab/$skip/$minPairs)")
    val w = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
        explode(tokens(lower(col(textCol)))).as("term"))
      .distinct()
      .transform(graft.core.CacheRegistry.persistTracked)
    val top = toks.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("term")).limit(skip + vocab)
      .withColumn("__rank", row_number().over(
        w.partitionBy(lit(0)).orderBy(desc("df"), col("term"))))
      .filter(col("__rank") > skip)
      .select(col("term"), col("df"))
    val n = toks.agg(countDistinct(col(idCol)).as("__N"))
    val t = toks.join(broadcast(top), Seq("term"))
    val a = t.select(col(idCol), col("term").as("term_a"), col("df").as("__dfa"))
    val pairs = a.join(
        t.select(col(idCol), col("term").as("term_b"), col("df").as("__dfb")),
        Seq(idCol))
      .filter(col("term_a") < col("term_b"))
      .groupBy("term_a", "term_b")
      .agg(count(lit(1)).as("n_ab"), max("__dfa").as("__na"),
        max("__dfb").as("__nb"))
      .filter(col("n_ab") >= minPairs)
    // __na cast double BEFORE the product: the counts approach N by
    // construction (most-frequent terms), and a long na*nb overflows at
    // billion-doc scale — the double product doesn't, and 6-digit
    // rounding absorbs the precision difference
    pairs.crossJoin(broadcast(n))
      .select(col("term_a"), col("term_b"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("__N") /
          (col("__na").cast("double") * col("__nb"))) + lit(1e-9), 6).as("pmi"))
  }

  /**
   * Feature hashing (Weinberger et al., ICML'09 — the "hashing trick"):
   * every document becomes a fixed-`dims` dense count vector, token →
   * dimension via the engine-portable md5 bucket
   * ([[graft.ext.Classifier.tokenBucket]], so any SQL engine recomputes
   * the mapping bit-identically). The vocabulary-free featurizer that
   * feeds linear models and cheap similarity when no embedding model is
   * in the loop; [[graft.ext.Classifier.featuresOf]] is its
   * presence-set sibling.
   *
   * Zero-token documents produce no row (no features to hash — the same
   * convention as the posting-list builders).
   *
   * Scale shape: one explode + (doc, bucket) hash agg with map-side
   * combine, then per-doc assembly into a `dims`-wide array via a map
   * lookup — a second doc-keyed agg; state per doc is ≤ dims entries.
   * Nothing token-order-dependent, nothing driver-side.
   *
   * @return (idCol, features array<bigint> of length dims)
   */
  def hashingTf(df: DataFrame, idCol: String, textCol: String,
                dims: Int): DataFrame = {
    require(dims >= 1, s"dims $dims must be >= 1")
    val counts = df.select(col(idCol),
        explode(tokens(lower(col(textCol)))).as("__tok"))
      .withColumn("__b", graft.ext.Classifier.tokenBucket(col("__tok"), dims))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__c"))
    counts.groupBy(idCol)
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__c"))))
        .as("__m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dims - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0L))).as("features"))
  }
}
