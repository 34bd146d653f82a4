package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Lexical (BM25) retrieval over a document corpus — the keyword-search
 * leg of a training-data pipeline: retrieval-based decontamination
 * audits, targeted corpus inspection ("show me the docs about X"), and
 * the sparse half of hybrid sparse+dense search where
 * [[Similarity.cosineTopK]] is the dense half.
 *
 * Reference scope: the reference's analytics delegate relevance-style
 * ranking to warehouse SQL (`5_dbt/READ.md:531-733` marts rank by
 * aggregated metrics); free-text retrieval is an extension in the same
 * spirit as the other `ext` operators.
 *
 * Scale shape (SCALE.md): the query set is small by construction and
 * broadcast twice (term list, then term+df list); the corpus
 * contributes exactly two aggregations — (doc, term) term frequencies
 * and per-term document frequencies — both one map-side-combined
 * shuffle. Scoring joins postings to the broadcast query terms, so the
 * (query, doc) score exchange carries only documents containing at
 * least one query term (the inverted-index access pattern, expressed
 * declaratively: Catalyst's broadcast join IS the posting lookup).
 * The final top-k ranks inside query_id partitions — a bounded number
 * of groups, never a global sort.
 */
object Retrieval {

  /**
   * Top-k documents per query under Okapi BM25 (Robertson & Walker;
   * k1/b defaults are the classic parameterization; idf is the
   * +1-smoothed variant `ln(1 + (N - df + 0.5) / (df + 0.5))` so terms
   * in over half the corpus score small-positive, never negative).
   *
   * Documents with no tokens never enter a posting list, so N counts
   * docs with at least one token — the convention an inverted index
   * materializes naturally (an empty doc is unreachable by search).
   *
   * @param docs    (doc_id, text)
   * @param queries (query_id, term) — one row per query term; terms are
   *                matched verbatim against lowercased whitespace tokens
   * @param k       results per query
   * @return (query_id, doc_id, score): `score` is rounded to 6 digits
   *         BEFORE ranking (ties broken by doc_id) so the ranking is
   *         reproducible across engines and summation orders
   */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // (doc, term, tc, dl): one shuffle on (doc_id, term); dl rides the
    // same exchange as a window over the already-partitioned groups.
    // Persist barrier: feeds the df aggregation, the corpus stats, and
    // the scoring join — three consumers of one tokenize+count pass.
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
      .withColumn("dl", sum("tc").over(Window.partitionBy("doc_id")))
      .transform(graft.core.CacheRegistry.persistTracked)

    // Per-term document frequency, immediately culled to the query's
    // terms by the broadcast join — only |query terms| rows survive.
    val qdf = broadcast(queries.join(tf.groupBy("term").agg(count(lit(1)).as("df")), "term"))

    // 1-row corpus constants (N, total tokens → avgdl).
    val stats = broadcast(tf.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tc")).as("n_tokens")))

    val avgdl = col("n_tokens").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val w = idf * (col("tc") * lit(k1 + 1.0)) /
      (col("tc") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))

    rankTail(tf.join(qdf, Seq("term"))
      .crossJoin(stats)
      .groupBy("query_id", "doc_id")
      .agg(round(sum(w) + lit(1e-9), 6).as("score")), k)
  }

  /**
   * The per-query top-k selection shared by the BM25 scorers. Default
   * is [[graft.functions.TopKAggregator]]'s bounded-buffer form: the
   * scored frame leaves its (query, doc) aggregation hash-partitioned,
   * and the aggregator's partial pass reduces each partition to ≤ k
   * rows per query BEFORE the query-keyed exchange — so a hot term
   * that scores half the corpus for one query moves k × partitions
   * rows, not the corpus. A window form would shuffle every scored row
   * to its query's single reducer; at benign selectivity the two are
   * within noise (measured table in SCALE.md, `bm25tail`). Ordering:
   * (score DESC, doc_id ASC), score already 6-digit rounded.
   */
  private def rankTail(scored: DataFrame, k: Int): DataFrame =
    graft.functions.TopKAggregator.topKPerKey(scored, Seq("query_id"),
        col("score"), col("doc_id"), k, "score", "doc_id")
      .select("query_id", "doc_id", "score")

  /**
   * Pseudo-relevance-feedback query expansion (the RM3 posture, Lavrenko
   * & Croft relevance models, deterministic variant): run the query,
   * treat its top `feedbackK` documents as relevant, rank their terms by
   * Σ tf·idf over the feedback set (6-digit rounded, term-tiebroken),
   * and append the best `expandTerms` NEW terms to each query. Feed the
   * result back into [[bm25TopK]] (or [[bm25TopKIndexed]]) for the
   * second pass — recall rises for vocabulary-mismatch queries at the
   * cost of one extra retrieval round.
   *
   * Scale shape: the first pass is BM25's own cost; expansion joins the
   * (doc, term) frame against the BROADCAST feedback set (queries×k
   * rows), aggregates into (query, term) groups map-side, and the
   * per-query top-E is a window over candidate terms of ≤k docs. For a
   * standing service, read tf/df from the materialized index
   * ([[buildBm25Index]]) instead of re-tokenizing — this convenience
   * form re-derives them from the corpus.
   *
   * @return the expanded (query_id, term) set: original ∪ top-E fresh
   */
  def prfExpand(docs: DataFrame, queries: DataFrame, feedbackK: Int,
                expandTerms: Int, k1: Double = 1.2,
                b: Double = 0.75): DataFrame = {
    require(feedbackK >= 1 && expandTerms >= 1,
      s"feedbackK=$feedbackK / expandTerms=$expandTerms must be >= 1")
    val first = bm25TopK(docs, queries, feedbackK, k1, b)
      .select("query_id", "doc_id")
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = broadcast(tf.agg(countDistinct(col("doc_id")).as("n_docs")))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val cand = tf.join(broadcast(first), Seq("doc_id"))
      .join(dfreq, Seq("term")).crossJoin(stats)
      .groupBy("query_id", "term")
      .agg(round(sum(col("tc") * idf) + lit(1e-9), 6).as("wt"))
    val fresh = cand.join(queries.select("query_id", "term"),
      Seq("query_id", "term"), "left_anti")
    val exp = fresh.withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("wt"), col("term"))))
      .filter(col("__rn") <= expandTerms)
      .select("query_id", "term")
    queries.select("query_id", "term").unionByName(exp)
  }

  /**
   * The full PRF retrieval pipeline over ONE tokenize+count pass —
   * the shared-postings form of `dfDerivedQueries → prfExpand →
   * bm25TopK` (guide §2.3 "aggregate before you shuffle" / §1.2 "don't
   * compute things twice"): the convenience composition re-derives the
   * (doc, term, tc, dl) frame once per leg — four corpus scans and
   * four tokenize+aggregate passes for one answer. Here the postings
   * frame and the per-term document frequencies are each computed ONCE
   * (persisted for the duration of the query) and feed query
   * derivation, the feedback pass, the expansion ranking and the final
   * pass. Identical results by construction: the same expressions over
   * the same integers in the same order (oracle-pinned at the
   * ext_bm25_prf registry row). At 100 TB the four corpus scans are
   * the whole cost of the composition — this form pays one.
   */
  def bm25PrfPipeline(docs: DataFrame, n: Int, perQuery: Int,
                      feedbackK: Int, expandTerms: Int, k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(feedbackK >= 1 && expandTerms >= 1,
      s"feedbackK=$feedbackK / expandTerms=$expandTerms must be >= 1")
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
      .withColumn("dl", sum("tc").over(Window.partitionBy("doc_id")))
      .transform(graft.core.CacheRegistry.persistTracked)
    // each tf row is one distinct (doc, term) pair, so df per term is a
    // plain row count — the dfDerivedQueries integers exactly
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val stats = broadcast(tf.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tc")).as("n_tokens")))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    def pass(qs: DataFrame, topK: Int): DataFrame = {
      val qdf = broadcast(qs.join(dfreq, "term"))
      val avgdl = col("n_tokens").cast("double") / col("n_docs")
      val w = idf * (col("tc") * lit(k1 + 1.0)) /
        (col("tc") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
      rankTail(tf.join(qdf, Seq("term"))
        .crossJoin(stats)
        .groupBy("query_id", "doc_id")
        .agg(round(sum(w) + lit(1e-9), 6).as("score")), topK)
    }
    val queries = dfDerivedQueriesFrom(dfreq, n, perQuery)
    val first = pass(queries, feedbackK).select("query_id", "doc_id")
    // expansion ranking (the prfExpand arithmetic over the shared tf):
    // Σ tc·idf per (query, term) across the broadcast feedback set —
    // n_tokens rides the stats broadcast unreferenced
    val cand = tf.join(broadcast(first), Seq("doc_id"))
      .join(dfreq, Seq("term")).crossJoin(stats)
      .groupBy("query_id", "term")
      .agg(round(sum(col("tc") * idf) + lit(1e-9), 6).as("wt"))
    val fresh = cand.join(queries.select("query_id", "term"),
      Seq("query_id", "term"), "left_anti")
    val exp = fresh.withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("wt"), col("term"))))
      .filter(col("__rn") <= expandTerms)
      .select("query_id", "term")
    pass(queries.select("query_id", "term").unionByName(exp), k)
  }

  /**
   * Retrieval quality metrics against a binary-relevance ground truth:
   * per query with truth, recall@k, MRR (1/rank of the first relevant
   * hit), and nDCG@k (1/log2(rank+1) gains, ideal = the top
   * min(k, n_rel) positions). The measurement half of a retrieval
   * stack — what turns "the ANN returned something" into a recall
   * curve. All three metrics are 6-digit rounded; queries with truth
   * but no results score zeros; queries without truth are not judged.
   *
   * Scale shape: ranking is a window inside ≤result-set-sized query
   * groups; the hit join is (query, doc)-keyed; every aggregate is
   * map-side combinable and output is one row per judged query. Nothing
   * corpus-proportional happens here — the legs being measured own that.
   */
  def evalMetrics(results: DataFrame, truth: DataFrame, k: Int,
                  queryIdCol: String = "query_id",
                  docIdCol: String = "doc_id",
                  scoreCol: String = "score"): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val ranked = results.withColumn("__rank", row_number().over(
        Window.partitionBy(queryIdCol).orderBy(desc(scoreCol), col(docIdCol))))
      .filter(col("__rank") <= k)
    val t = truth.select(col(queryIdCol), col(docIdCol)).distinct()
    val nRel = t.groupBy(queryIdCol).agg(count(lit(1)).as("n_rel"))
    val perQ = ranked.join(t, Seq(queryIdCol, docIdCol))
      .groupBy(queryIdCol).agg(
        count(lit(1)).as("__hits"),
        min(col("__rank")).as("__minrank"),
        sum(lit(1.0) / log2(col("__rank") + 1)).as("__dcg"))
    val idcg = aggregate(
      sequence(lit(1), least(lit(k.toLong), col("n_rel")).cast("int")),
      lit(0.0), (acc, i) => acc + lit(1.0) / log2(i.cast("double") + 1))
    nRel.join(perQ, Seq(queryIdCol), "left")
      .select(col(queryIdCol), col("n_rel"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") /
          col("n_rel") + lit(1e-9), 6).as("recall"),
        round(coalesce(lit(1.0) / col("__minrank"), lit(0.0)) + lit(1e-9), 6)
          .as("mrr"),
        round(coalesce(col("__dcg"), lit(0.0)) / idcg + lit(1e-9), 6)
          .as("ndcg"))
  }

  /**
   * Materialize the BM25 inverted index as tables: postings
   * (doc_id, term, tc, dl) bucketed by term — so every later term-keyed
   * operation (df counts, the posting join) finds its shuffle pre-paid
   * by the table layout — plus a 1-row corpus-stats table (n_docs,
   * n_tokens). This is the standing-search-service posture SCALE.md
   * prescribes: the corpus scan + tokenize is paid ONCE at build (or
   * incrementally via [[graft.core.Materialize.bucketAppend]] as docs
   * arrive), and each query run touches only the saved tables.
   *
   * @return (postings, stats) as fresh table-backed frames
   */
  def buildBm25Index(spark: org.apache.spark.sql.SparkSession, namePrefix: String,
      docs: DataFrame, buckets: Int = 16): (DataFrame, DataFrame) = {
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
      .withColumn("dl", sum("tc").over(Window.partitionBy("doc_id")))
    val postings = graft.core.Materialize.bucketTable(
      spark, s"${namePrefix}_postings", tf, buckets, Seq("term"))
    val stats = graft.core.Materialize.materialize(
      spark, s"${namePrefix}_stats",
      postings.agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tc")).as("n_tokens")),
      graft.core.Materialize.AsTable())
    (postings, stats)
  }

  /**
   * BM25 top-k against a prebuilt index ([[buildBm25Index]]): same
   * scores, ranks, and tie rules as [[bm25TopK]], but the corpus is
   * never scanned — the query-term broadcast culls the postings table to
   * the matching terms, per-term df is counted from those surviving
   * postings (each posting row is one distinct doc), and N/avgdl come
   * from the 1-row stats table. Per-query work is
   * O(postings of the query's terms), the inverted-index access cost.
   */
  def bm25TopKIndexed(postings: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = broadcast(queries.select("term").distinct())
    // one pass over the culled postings feeds both df and scoring
    val rel = postings.join(qterms, Seq("term"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val qdf = broadcast(queries.join(
      rel.groupBy("term").agg(count(lit(1)).as("df")), "term"))
    val st = broadcast(stats)
    val avgdl = col("n_tokens").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val w = idf * (col("tc") * lit(k1 + 1.0)) /
      (col("tc") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    rankTail(rel.join(qdf, Seq("term"))
      .crossJoin(st)
      .groupBy("query_id", "doc_id")
      .agg(round(sum(w) + lit(1e-9), 6).as("score")), k)
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of
   * independently ranked retrieval legs — the standard way to combine a
   * sparse (BM25) and a dense (embedding cosine) ranking without score
   * calibration: each leg contributes `1 / (rrfK + rank)` per document
   * and the fused score is the sum, so a document ranked well by EITHER
   * leg surfaces, and incomparable score scales never meet.
   *
   * Scale shape: every leg is already a top-k result — O(|queries| × k)
   * rows — so ranking, the union, and the fused aggregation all operate
   * on kilobytes regardless of corpus size; the heavy lifting happened
   * inside the legs ([[bm25TopK]], [[Similarity.bruteForceTopK]] or its
   * LSH/IVF variants). One exchange on (query_id, doc_id), bounded by
   * legs × queries × k rows.
   *
   * @param legs each (query_id, doc_id, score); per-leg rank is derived
   *             here as row_number by (score DESC, doc_id) within the
   *             query, so callers pass raw scored top-k output
   * @param k    fused results per query
   * @param rrfK the standard dampening constant (60 in the paper);
   *             larger values flatten the contribution of top ranks
   * @return (query_id, doc_id, rrf): `rrf` rounded to 6 digits before
   *         the final rank, ties broken by doc_id
   */
  def rrfFuse(legs: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one ranked leg")
    val ranked = legs.map { leg =>
      leg.select(col("query_id"), col("doc_id"),
          row_number().over(Window.partitionBy("query_id")
            .orderBy(desc("score"), col("doc_id"))).as("__rank"))
    }.reduce(_ unionByName _)
    ranked
      .groupBy("query_id", "doc_id")
      .agg(round(sum(lit(1.0) / (lit(rrfK) + col("__rank"))) + lit(1e-9), 6)
        .as("rrf"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("rrf"), col("doc_id"))))
      .filter(col("__rn") <= k)
      .select("query_id", "doc_id", "rrf")
  }

  /**
   * Weighted-sum score fusion with per-query min-max normalization —
   * [[rrfFuse]]'s score-AWARE sibling (the other standard hybrid
   * combiner, e.g. in OpenSearch/Vespa hybrid ranking): each leg's
   * scores are rescaled to [0,1] within the query (leg max → 1, leg
   * min → 0; a constant-score leg contributes 1.0 — its ranking carries
   * no information, so every member gets the full leg weight), then
   * fused as Σ wᵢ·normᵢ. Docs absent from a leg contribute nothing for
   * it. Use RRF when score scales are incomparable garbage; use this
   * when leg scores are meaningful and the mixing ratio should be a
   * real, tunable knob.
   *
   * Scale shape: identical to [[rrfFuse]] — legs are already top-k
   * frames (O(|queries| × k) rows), the min/max windows and the fused
   * aggregate run on kilobytes regardless of corpus size.
   *
   * @param legs (top-k frame, weight) pairs, each frame
   *             (query_id, doc_id, score)
   * @param k    fused results per query
   * @return (query_id, doc_id, fused): rounded to 6 digits before the
   *         final rank, ties broken by doc_id
   */
  def weightedFuse(legs: Seq[(DataFrame, Double)], k: Int): DataFrame = {
    require(legs.nonEmpty, "weightedFuse needs at least one scored leg")
    val normed = legs.map { case (leg, w) =>
      val b = Window.partitionBy("query_id")
      leg.select(col("query_id"), col("doc_id"), col("score"),
          max(col("score")).over(b).as("__mx"),
          min(col("score")).over(b).as("__mn"))
        .select(col("query_id"), col("doc_id"),
          (lit(w) * when(col("__mx") === col("__mn"), lit(1.0))
            .otherwise((col("score") - col("__mn"))
              / (col("__mx") - col("__mn")))).as("__ws"))
    }.reduce(_ unionByName _)
    normed.groupBy("query_id", "doc_id")
      .agg(round(sum(col("__ws")) + lit(1e-9), 6).as("fused"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("fused"), col("doc_id"))))
      .filter(col("__rn") <= k)
      .select("query_id", "doc_id", "fused")
  }

  /**
   * Deterministic benchmark query set derived from the corpus itself:
   * the terms ranked 11..(10+n*perQuery) by document frequency
   * (df DESC, term ASC — skipping the 10 most common, which are
   * stopword-shaped), grouped into `n` queries of `perQuery` terms by
   * rank order. Top-k-shaped: `orderBy().limit()` plans
   * TakeOrderedAndProject, so the vocabulary is never globally sorted;
   * the window below it ranks a ≤(10+n*perQuery)-row local result.
   */
  def dfDerivedQueries(docs: DataFrame, n: Int, perQuery: Int): DataFrame =
    dfDerivedQueriesFrom(docs
      .select(explode(TextOps.tokens(lower(col("text")))).as("term"), col("doc_id"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("df")), n, perQuery)

  /** [[dfDerivedQueries]] from a prebuilt (term, df) frame — e.g. a
    * postings table's per-term row count, so an index-only query run
    * ([[bm25TopKIndexed]]) derives its query set without a corpus scan. */
  def dfDerivedQueriesFrom(dfreq: DataFrame, n: Int, perQuery: Int): DataFrame = {
    val top = dfreq
      .orderBy(desc("df"), col("term")).limit(10 + n * perQuery)
    // constant partition key: the ≤(10+n*perQuery)-row rank is
    // single-partition by construction; keying it explicitly documents
    // that and silences WindowExec's missing-partition warning
    top.withColumn("__rank", row_number().over(
        Window.partitionBy(lit(0)).orderBy(desc("df"), col("term"))))
      .filter(col("__rank") > 10)
      .select(floor((col("__rank") - 11) / perQuery).cast("long").as("query_id"),
        col("term"))
  }

  /**
   * Late-interaction MaxSim scoring (the ColBERT posture, Khattab &
   * Zaharia, SIGIR'20): documents and queries are BAGS of token
   * vectors; a document's score for a query is
   * Σ_{query tokens} max_{doc tokens} cos(q_i, d_j) — each query token
   * independently finds its best-matching document token, so partial /
   * reordered matches score where a single pooled vector would wash
   * out. The standard middle ground between cheap single-vector dense
   * retrieval and full cross-encoder re-ranking.
   *
   * Scale shape: the doc-token table is the only corpus-sized input and
   * it is SCANNED ONCE against the broadcast query-token set (queries ×
   * tokens rows — kilobytes); the per-(query, doc, qtok) max and the
   * per-(query, doc) sum are both map-side-combined hash aggregations,
   * and the final top-k runs through [[graft.functions.TopKAggregator]]
   * (never a corpus-wide rank window). Per-pair cosines are 6-digit
   * rounded BEFORE the max so the argmax is engine-stable.
   *
   * @param docTokens   (doc_id, tok_idx, vec) — one row per document
   *                    token vector
   * @param queryTokens (query_id, qtok_idx, qvec)
   * @param k           results per query
   * @return (query_id, doc_id, score), score = 6-digit rounded MaxSim
   */
  def maxSimTopK(docTokens: DataFrame, queryTokens: DataFrame,
                 k: Int): DataFrame = {
    val maxsim = docTokens.crossJoin(broadcast(queryTokens))
      .withColumn("__c", round(Similarity.cosine(
        Similarity.asDouble(col("vec")), Similarity.asDouble(col("qvec")))
        + lit(1e-9), 6))
      .groupBy("query_id", "doc_id", "qtok_idx")
      .agg(max(col("__c")).as("__m"))
    val scored = maxsim.groupBy("query_id", "doc_id")
      .agg(round(sum(col("__m")) + lit(1e-9), 6).as("score"))
    graft.functions.TopKAggregator.topKPerKey(scored, Seq("query_id"),
        col("score"), col("doc_id"), k, "score", "doc_id")
      .select("query_id", "doc_id", "score")
  }

  /**
   * Edit-distance-1 fuzzy term resolution via the deletion-neighborhood
   * join (the SymSpell construction, public technique): two terms are
   * within one edit (insert / delete / substitute) only if they share a
   * member of each other's {self} ∪ {1-deletions} set, so candidate
   * generation is an EQUI-join on exploded deletion variants — never a
   * vocab × queries product — and an exact `levenshtein ≤ 1` filter
   * culls the false positives (deletion-sharing admits e.g. transposed
   * pairs at distance 2). This is the query-time spell-correction step
   * of a lexical search stack: resolve each (possibly misspelled) query
   * term to the vocabulary terms it plausibly meant, then feed those to
   * [[bm25TopK]].
   *
   * Scale shape: each side explodes to (len+1) variants of itself —
   * linear amplification with short strings — then one hash equi-join
   * on the variant key; the verify predicate rides the join. The vocab
   * side is corpus-vocabulary-sized (≪ corpus), the query side
   * broadcast.
   *
   * @return (query_id, qterm, term) — distinct vocabulary resolutions
   *         with levenshtein(qterm, term) ≤ 1
   */
  def fuzzyTermMatch(vocab: DataFrame, termCol: String,
                     queries: DataFrame, queryIdCol: String,
                     qtermCol: String): DataFrame = {
    def delVariants(c: Column): Column = array_union(
      array(c),
      transform(sequence(lit(1), length(c)), i =>
        concat(c.substr(lit(1), i - 1),
          c.substr(i + 1, length(c) - i))))
    val v = vocab.select(col(termCol).as("term"))
      .withColumn("__var", explode(delVariants(col("term"))))
    val q = broadcast(queries
      .select(col(queryIdCol).as("query_id"), col(qtermCol).as("qterm"))
      .withColumn("__var", explode(delVariants(col("qterm")))))
    v.join(q, Seq("__var"))
      .filter(levenshtein(col("qterm"), col("term")) <= 1)
      .select("query_id", "qterm", "term").distinct()
  }
}
