package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for LLM training-data pipelines: exact
 * (fingerprint hash-groupBy) and near-duplicate (MinHash + LSH banding →
 * bucket join → exact-Jaccard verification), plus SimHash.
 *
 * Scale design (the 100 TB shape):
 *  - Exact dedup is ONE shuffle on the 64-bit fingerprint; survivor choice
 *    is a per-group min — no sort, no window over raw text.
 *  - Near-dup NEVER compares all pairs. Docs are shuffled by
 *    (band, bandHash); only same-bucket docs meet, so cost is
 *    sum over buckets of |bucket|², driven by the banding parameters —
 *    the textbook MinHash-LSH layout. Exact Jaccard runs only on the
 *    candidate pairs that share a band.
 *  - Run [[exact]] BEFORE near-dup in production: thousands of byte-equal
 *    copies of one document would otherwise all land in the same LSH
 *    bucket and re-create the quadratic blowup.
 *  - Per-document MinHash work is ONE typed pass ([[shingleFrame]]):
 *    tokens, shingle hashes, signature and band keys in a single
 *    `mapPartitions` loop, persisted once; candidate pairs are verified
 *    by the codegen'd sorted-merge `graft_sorted_jaccard` ([[jaccard]]).
 *    No UDFs, no driver-side collection.
 */
object Dedup {

  /** Whitespace/case-normalized text (the equality key for exact dedup). */
  def normalized(text: Column): Column =
    concat_ws(" ", TextOps.tokens(lower(text)))

  /**
   * Exact dedup: keep the lowest-id row per normalized-text fingerprint.
   * One shuffle on the 64-bit fingerprint; ties broken by id so the
   * survivor set is deterministic.
   */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    df.withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /**
   * Exact-dedup summary: (survivor id, copy count) per distinct
   * normalized text — groupBy+min/count, cheaper than [[exact]] when the
   * full surviving rows aren't needed.
   */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))
      .drop("__fp")
      .select("survivor_id", "n_copies")

  /**
   * Incremental (cross-snapshot) exact dedup — the daily-ingest shape: a
   * new batch is deduplicated against the already-accepted corpus, then
   * within itself. Returns (survivor_id, n_batch_copies) per surviving
   * batch document.
   *
   * Scale shape: the base corpus contributes ONLY its distinct 64-bit
   * fingerprints (8 bytes/doc — the standing dedup state a 100 TB
   * pipeline carries between runs, itself re-derivable by one scan);
   * the batch anti-joins on that key and self-dedups with one more
   * fingerprint shuffle. Nothing ever compares text to text, and the
   * base corpus' text is never re-read once its fingerprint set exists.
   */
  def incremental(batch: DataFrame, base: DataFrame,
                  textCol: String, idCol: String): DataFrame = {
    val baseFp = base.select(TextOps.fingerprint(col(textCol)).as("__fp")).distinct()
    batch.withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .join(baseFp, Seq("__fp"), "left_anti")
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_batch_copies"))
      .select("survivor_id", "n_batch_copies")
  }

  /**
   * [[incremental]] with a Bloom-filter gate — identical output, the
   * shape for a base corpus too large to anti-join comfortably: the
   * base collapses to a broadcast Bloom filter over its fingerprints
   * (~1.2 MB per million docs at 1% fpp), batch rows whose fingerprint
   * DEFINITELY isn't in base skip the join entirely, and only the
   * mightContain survivors (true duplicates + fpp of the batch) pay the
   * exact anti-join that removes false positives. mightContain is
   * deterministic per fingerprint, so no group splits across the two
   * paths and the union re-aggregates exactly.
   *
   * The filter probe is a Scala UDF by necessity (the sketch is opaque
   * to codegen — same documented escape as bloomPrefilteredInner,
   * SURVEY §2.10); it gates the scan side, not the shuffle. At larger
   * base cardinalities raise `expectedItems` (bits scale linearly) or
   * shard the filter by fingerprint prefix.
   */
  def incrementalBloom(batch: DataFrame, base: DataFrame,
                       textCol: String, idCol: String,
                       expectedItems: Long = 1000000L,
                       fpp: Double = 0.01): DataFrame = {
    val spark = batch.sparkSession
    // persist barriers: baseFp feeds BOTH the filter build (an action
    // here) and the verification anti-join; fpd feeds both sides of the
    // might/definitely split — without them each consumer re-fingerprints
    // its source (the re-scan the 'cheaper than plain anti-join' claim
    // can't afford). Tracked so CacheRegistry.releaseAll() can free both
    // the cache and the broadcast sketch once results materialize.
    val baseFp = base.select(TextOps.fingerprint(col(textCol)).as("__fp"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val bloom = baseFp.stat.bloomFilter("__fp", expectedItems, fpp)
    val bloomB = graft.core.CacheRegistry.broadcastTracked(
      spark.sparkContext.broadcast(bloom))
    val might = udf((fp: Long) => bloomB.value.mightContainLong(fp))
    val fpd = batch.withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .transform(graft.core.CacheRegistry.persistTracked)
    val definitelyNew = fpd.filter(!might(col("__fp")))
    val verified = fpd.filter(might(col("__fp")))
      .join(baseFp.distinct(), Seq("__fp"), "left_anti")
    definitelyNew.unionByName(verified)
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_batch_copies"))
      .select("survivor_id", "n_batch_copies")
  }

  /**
   * Incremental (cross-snapshot) NEAR-dup dedup — the MinHash twin of
   * [[incremental]]: a new batch is dropped against the accepted corpus
   * first (any base document with verified shingle-Jaccard >= threshold
   * kills the batch doc), then self-deduplicated (a batch doc with ANY
   * lower-id near-dup among the base-survivors drops — the conservative
   * greedy rule; use [[nearDupClusters]] when transitive components are
   * wanted). Returns the surviving batch rows unchanged.
   *
   * Scale shape: the candidate step is the banded (band, bandHash)
   * equi-join of the batch's LSH table against the BASE'S PERSISTED LSH
   * INDEX — bands × 8 bytes per base doc of standing state, the
   * near-dup analogue of [[incremental]]'s fingerprint set; partition
   * the stored index by band and a daily batch touches only colliding
   * buckets. Verification re-reads shingles ONLY for candidate base ids
   * (a semi-join–sized fetch), never base-text × batch-text. Within a
   * run nothing is all-pairs: sum(|bucket|²) over colliding buckets,
   * same as [[nearDupPairs]].
   *
   * This overload derives the base's index in-run (convenient for
   * one-shots); the daily-ingest shape builds the index ONCE with
   * [[nearDupIndex]], materializes it, and runs
   * [[incrementalNearDupIndexed]] against the saved tables so each run
   * is O(batch), never O(corpus).
   */
  def incrementalNearDup(batch: DataFrame, base: DataFrame,
                         idCol: String, textCol: String,
                         threshold: Double, shingleK: Int = 3,
                         numHashes: Int = 64, bands: Int = 32): DataFrame = {
    val (bandT, shT) =
      nearDupIndex(base, idCol, textCol, shingleK, numHashes, bands)
    incrementalNearDupIndexed(batch, bandT, shT, idCol, textCol,
      threshold, shingleK, numHashes, bands)
  }

  /**
   * The base corpus' persistable near-dup index — the standing state a
   * daily [[incrementalNearDup]] re-reads instead of re-deriving the
   * whole accepted corpus' MinHash machinery per run. Two frames, both
   * flat-typed for parquet:
   *  - band table `(idCol, band: int, band_hash: long)` — bands × 8
   *    bytes per doc; store it bucketed on (band, band_hash) so the
   *    batch-vs-base candidate join finds the shuffle pre-paid;
   *  - shingle table `(idCol, shingles: array<long>)` — read ONLY for
   *    candidate base ids (a semi-join–sized fetch) at verification;
   *    bucket it on `idCol`.
   * Feed both to [[incrementalNearDupIndexed]]; growing the index after
   * a batch is appending the survivors' rows to both tables.
   */
  def nearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 3, numHashes: Int = 64,
                   bands: Int = 32): (DataFrame, DataFrame) = {
    val sh = shingleFrame(corpus, idCol, textCol, shingleK, numHashes, bands)
    (bandRows(sh, idCol, "band", "band_hash"),
      sh.select(col(idCol), col("__sh").as("shingles")))
  }

  /**
   * [[incrementalNearDup]] against a PRE-BUILT base index (the
   * [[nearDupIndex]] schema, typically read back from warehouse
   * tables): the query side touches only the batch text plus the two
   * index tables — the base corpus' text is never re-scanned, which is
   * the property that makes the daily run O(batch), not O(corpus).
   */
  def incrementalNearDupIndexed(batch: DataFrame, baseBands: DataFrame,
                                baseShingles: DataFrame,
                                idCol: String, textCol: String,
                                threshold: Double, shingleK: Int = 3,
                                numHashes: Int = 64,
                                bands: Int = 32): DataFrame =
    incrementalNearDupWithBatchIndex(batch, baseBands, baseShingles,
      idCol, textCol, threshold, shingleK, numHashes, bands)._1

  /**
   * [[incrementalNearDupIndexed]] plus the batch's OWN index frames in
   * the [[nearDupIndex]] schema — `(survivors, batchBands,
   * batchShingles)`. The band/shingle frames are the very tables the
   * dedup itself banded and verified with (persisted once inside this
   * call), so an ingest step that must GROW the base index by the
   * survivors can semi-join these on the survivor ids instead of
   * re-tokenizing and re-minhashing the survivor text from scratch —
   * the second full MinHash pass per micro-batch that
   * `nearDupIndex(survivors, …)` would cost. Values are identical
   * (MinHash is deterministic over the same text).
   */
  def incrementalNearDupWithBatchIndex(batch: DataFrame, baseBands: DataFrame,
                                baseShingles: DataFrame,
                                idCol: String, textCol: String,
                                threshold: Double, shingleK: Int = 3,
                                numHashes: Int = 64,
                                bands: Int = 32): (DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    // the batch's shingles and band keys are computed ONCE (the persisted
    // frame) and reused across the base join, the self-pairing, and the
    // verifications — re-deriving them per step multiplied the whole
    // chain's cost in the first cut
    val shB = shingleFrame(batch, idCol, textCol, shingleK, numHashes, bands)
    val bandB = bandRows(shB, idCol, "__band", "__bh")
      .withColumnRenamed(idCol, "__batch_id")
    val baseB = baseBands.select(col(idCol).as("__base_id"),
      col("band").as("__band"), col("band_hash").as("__bh"))
    // a document is never its own near-dup: a batch id colliding with a
    // base id is the SAME document met again (an at-least-once replay
    // that already appended this batch's index rows, or a re-presented
    // doc) — without this exclusion such a replay would drop every
    // survivor against its own index rows and lose the batch
    val candBase = bandB.join(baseB, Seq("__band", "__bh"))
      .filter(col("__batch_id") =!= col("__base_id"))
      .select("__batch_id", "__base_id").distinct()
    val dupVsBase = candBase
      .join(shB.select(col(idCol).as("__batch_id"), col("__sh").as("__sh_a")),
        Seq("__batch_id"))
      .join(baseShingles.select(col(idCol).as("__base_id"),
        col("shingles").as("__sh_b")), Seq("__base_id"))
      .filter(jaccard(col("__sh_a"), col("__sh_b")) >= threshold)
      .select(col("__batch_id").as(idCol)).distinct()
      .transform(graft.core.CacheRegistry.persistTracked)
    val freshIds = shB.select(col(idCol)).join(dupVsBase, Seq(idCol), "left_anti")
    // self near-dup pairs from the SAME banded table, both ends
    // restricted to base-survivors (a dropped doc cannot be a witness)
    val candSelf = bandB.select(col("__band"), col("__bh"),
        col("__batch_id").as("id_a"))
      .join(bandB.select(col("__band"), col("__bh"), col("__batch_id").as("id_b")),
        Seq("__band", "__bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .join(freshIds.select(col(idCol).as("id_a")), Seq("id_a"), "left_semi")
      .join(freshIds.select(col(idCol).as("id_b")), Seq("id_b"), "left_semi")
      .distinct()
    val selfDrops = candSelf
      .join(shB.select(col(idCol).as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(shB.select(col(idCol).as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .filter(jaccard(col("__sh_a"), col("__sh_b")) >= threshold)
      .select(col("id_b").as(idCol))
    // one anti-join against the UNION of both drop sets (anti ∘ anti ≡
    // anti ∘ union) — and no distinct on the drop side: left_anti is
    // insensitive to duplicate keys on its right input, so the extra
    // exchange+aggregate bought nothing
    val survivors = batch.join(dupVsBase.unionByName(selfDrops),
      Seq(idCol), "left_anti")
    val batchBands = bandB.select(col("__batch_id").as(idCol),
      col("__band").as("band"), col("__bh").as("band_hash"))
    val batchShingles = shB.select(col(idCol), col("__sh").as("shingles"))
    (survivors, batchBands, batchShingles)
  }

  /**
   * Exact-substring repetition statistics (the ExactSubstr family of
   * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
   * Better", re-expressed Spark-first): every k-token window of every
   * document is fingerprinted; a window whose fingerprint occurs at
   * least `minCount` times ACROSS THE CORPUS (same-doc repeats count)
   * is "repeated"; per document, repeated windows merge into maximal
   * spans. Output per doc — every doc, zero-filled when clean:
   * `(idCol, n_tokens, covered_tokens, n_spans, dup_ratio)` where
   * covered_tokens is the union length of the merged spans.
   *
   * Scale shape: windows explode to (doc, start, fp) — ~tokens × 16 B —
   * and the repeat decision is ONE hash aggregation on fp with map-side
   * combine, then a semi-join back. The reference implementation builds
   * a corpus-wide suffix array on one giant machine; the equi-join
   * formulation pays ~k× the bytes of the token stream in exchange for
   * embarrassing parallelism and no global structure. Span merging is a
   * per-doc `aggregate()` scan over the sorted start list (no second
   * shuffle beyond the per-doc regroup; the scan is linear in windows).
   *
   * Removal policy is the caller's (drop high dup_ratio docs, or cut
   * spans): the paper's span-cut changes tokenization context at span
   * edges, so curation pipelines usually act on the ratio.
   */
  def repeatedSpanStats(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 10, minCount: Long = 2L): DataFrame = {
    require(k >= 2 && minCount >= 2, "need k >= 2 and minCount >= 2")
    val toks = df
      .select(col(idCol), TextOps.tokens(lower(col(textCol))).as("__toks"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val winCol = transform(
      sequence(lit(1), size(col("__toks")) - (k - 1)),
      i => struct(i.as("s"),
        xxhash64(concat_ws(" ", slice(col("__toks"), i, lit(k)))).as("fp")))
    val w = toks.filter(size(col("__toks")) >= k)
      .select(col(idCol), explode(winCol).as("__w"))
      .select(col(idCol), col("__w.s").as("__s"), col("__w.fp").as("__fp"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val repeated = w.groupBy("__fp").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__fp")
    // per doc: sorted repeated-window starts -> one linear merge scan
    // (state: covered so far, span count, exclusive end of open span)
    val starts = w.join(repeated, Seq("__fp"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__s"))).as("__ss"))
    val scanned = starts.select(col(idCol),
      spanMerge(col("__ss"), k).as("__r"))
    toks.select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"))
      .join(scanned, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__r.covered"), lit(0L)).as("covered_tokens"),
        coalesce(col("__r.spans"), lit(0L)).as("n_spans"),
        round(coalesce(col("__r.covered"), lit(0L)).cast("double")
          / greatest(col("n_tokens"), lit(1L)) + lit(1e-9), 6).as("dup_ratio"))
  }

  /**
   * ExactSubstr span-CUT rewrite — the removal step Lee et al. 2022
   * actually deploy (where [[repeatedSpanStats]] is the report): every
   * token covered by a k-token window that occurs >= minCount times
   * corpus-wide is cut, and each document's text is rebuilt from its
   * surviving tokens (normalized: lowercased, single-spaced — the same
   * token stream the windows were computed on). A fully-covered doc
   * comes back with empty clean_text rather than disappearing, so the
   * caller still sees it (drop-or-keep is their policy).
   *
   * Scale shape: deliberately NO per-doc array search — coverage is
   * relational end to end. Windows explode to (doc, start, fp); the
   * repeat decision is one map-side-combined count on fp; repeated
   * windows explode to covered (doc, position) rows (≤ k× window rows
   * before distinct, ≤ n_tokens after); survivors leave via ONE
   * anti-join on (doc, position); the rebuild is one per-doc regroup.
   * Every stage is linear in the token stream — a doc that is one giant
   * repeat costs the same per token as a clean one (its covered set
   * collapses in the distinct), which is exactly the doc this operator
   * exists for.
   */
  def cutRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 10, minCount: Long = 2L): DataFrame = {
    require(k >= 2 && minCount >= 2, "need k >= 2 and minCount >= 2")
    val toks = df
      .select(col(idCol), TextOps.tokens(lower(col(textCol))).as("__toks"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val winCol = transform(
      sequence(lit(1), size(col("__toks")) - (k - 1)),
      i => struct(i.as("s"),
        xxhash64(concat_ws(" ", slice(col("__toks"), i, lit(k)))).as("fp")))
    val w = toks.filter(size(col("__toks")) >= k)
      .select(col(idCol), explode(winCol).as("__w"))
      .select(col(idCol), col("__w.s").as("__s"), col("__w.fp").as("__fp"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val repeated = w.groupBy("__fp").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__fp")
    val covered = w.join(repeated, Seq("__fp"), "left_semi")
      .select(col(idCol), explode(sequence(col("__s"),
        col("__s") + (k - 1))).as("__p"))
      .distinct()
    val kept = toks
      .select(col(idCol), posexplode(col("__toks")).as(Seq("__i", "__tok")))
      .withColumn("__p", col("__i") + 1).drop("__i")
      .join(covered, Seq(idCol, "__p"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__tok")))),
          x => x.getField("__tok")), " ").as("clean_text"),
        count(lit(1)).as("__kept"))
    toks.select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L)))
          .as("removed_tokens"))
  }

  /** Linear interval-merge scan over a SORTED window-start array: each
    * start s opens/extends a [s, s+k) interval; returns
    * struct(covered: long, spans: long) — union length and maximal-span
    * count. A window starting exactly at the open span's exclusive end
    * is contiguous coverage, not a new span (strict `>`). Shared by
    * [[repeatedSpanStats]] and the within-doc repetition signals. */
  private[ext] def spanMerge(startsSorted: Column, k: Int): Column =
    aggregate(startsSorted,
      struct(lit(0L).as("covered"), lit(0L).as("spans"),
        lit(Long.MinValue).as("end")),
      (acc, s0) => {
        val s = s0.cast("long")
        when(s > acc.getField("end"), struct(
          (acc.getField("covered") + k).as("covered"),
          (acc.getField("spans") + 1L).as("spans"),
          (s + k).as("end")))
        .otherwise(struct(
          (acc.getField("covered")
            + greatest(s + k - acc.getField("end"), lit(0L))).as("covered"),
          acc.getField("spans").as("spans"),
          greatest(acc.getField("end"), s + k).as("end")))
      },
      acc => struct(acc.getField("covered").as("covered"),
        acc.getField("spans").as("spans")))

  /** Distinct hashed k-token shingles (the near-dup comparison set). */
  def shingleHashes(text: Column, k: Int = 3): Column =
    array_distinct(TextOps.windowFingerprints(text, k))

  /** Deterministic per-function seeds (splitmix64 mixing of the index —
    * no RNG state, reproducible everywhere). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private val MaxHashes = 256
  private val HashSeeds: Array[Long] = (0 until MaxHashes).map(i => mix64(i.toLong)).toArray

  /** xorshift64 mix — XOR/shift only, so it wraps freely under ANSI mode
    * (a multiply-add family would raise ARITHMETIC_OVERFLOW on Spark 4's
    * checked Long arithmetic). */
  private def xorshift(c: Column): Column = {
    val a = c.bitwiseXOR(shiftleft(c, 13))
    val b = a.bitwiseXOR(shiftrightunsigned(a, 7))
    b.bitwiseXOR(shiftleft(b, 17))
  }

  /**
   * MinHash signature: the min over the document's (already xxhash64'd)
   * shingle values under numHashes xorshift permutations
   * h_i(x) = xorshift64(x ⊕ seed_i). One real hash per shingle, a
   * handful of bitwise ops per (shingle, i) — O(shingles × numHashes)
   * cheap ALU work per doc, zero shuffle.
   */
  def minhashSignature(shingles: Column, numHashes: Int = 64): Column = {
    require(numHashes <= MaxHashes, s"numHashes must be <= $MaxHashes")
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingles,
        s => xorshift(s.bitwiseXOR(element_at(lit(HashSeeds), i + 1))))))
  }

  /** LSH banding: one (bandIndex, bandHash) struct per band of the signature. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bh")))

  /** splitmix64-based string hash: the typed SimHash frame's default
    * token hash, and the shingle hash [[MinHashKernel]] computes from
    * token offsets (internal — hash identity only has to be consistent
    * within one run). */
  private def hash64(s: String): Long = {
    var h = FnvBasis
    var i = 0
    while (i < s.length) { h = mix64(h ^ s.charAt(i).toLong); i += 1 }
    h
  }
  private val FnvBasis = 0xcbf29ce484222325L

  private def xorshiftLong(x0: Long): Long = {
    var x = x0
    x ^= x << 13; x ^= x >>> 7; x ^= x << 17
    x
  }

  /** Java's `\s` (no UNICODE_CHARACTER_CLASS): `[ \t\n\x0B\f\r]`. */
  @inline private def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /**
   * One document's MinHash work, with buffers reused across the rows of a
   * task. The shingles are `hash64` over the space-joined lowercase
   * tokens of `text.toLowerCase.trim.split("\\s+")`, hashed from token
   * offsets (no token or shingle strings); a doc with fewer than `k`
   * tokens is one shingle over all of them. The signature is
   * [[minhashSignature]]'s and band b's key is
   * `xxhash64(slice(sig, b*r+1, r), 42)` ([[bandHashes]]), i.e. a fold of
   * `XXH64.hashLong` from seed 42 — bit-identical to the Column forms.
   */
  private final class MinHashKernel(k: Int, numHashes: Int, bands: Int) {
    private val seeds = HashSeeds
    private var starts = new Array[Int](64)
    private var ends = new Array[Int](64)
    private var hs = new Array[Long](64)
    private val sig = new Array[Long](numHashes)

    /** Sorted distinct shingle hashes. */
    def shingles(text: String): Array[Long] = {
      val s = text.toLowerCase
      var lo = 0; var hi = s.length
      while (lo < hi && s.charAt(lo) <= ' ') lo += 1 // String.trim's bounds
      while (hi > lo && s.charAt(hi - 1) <= ' ') hi -= 1
      var n = 0; var i = lo
      while (i < hi) {
        while (i < hi && isWs(s.charAt(i))) i += 1
        if (i < hi) {
          val st = i
          while (i < hi && !isWs(s.charAt(i))) i += 1
          if (n == starts.length) {
            starts = java.util.Arrays.copyOf(starts, 2 * n)
            ends = java.util.Arrays.copyOf(ends, 2 * n)
          }
          starts(n) = st; ends(n) = i; n += 1
        }
      }
      val m = if (n < k) 1 else n - k + 1
      if (hs.length < m) hs = new Array[Long](math.max(m, 2 * hs.length))
      var g = 0
      while (g < m) {
        val last = if (n < k) n - 1 else g + k - 1
        var h = FnvBasis; var t = g
        while (t <= last) {
          if (t > g) h = mix64(h ^ ' '.toLong)
          var c = starts(t)
          while (c < ends(t)) { h = mix64(h ^ s.charAt(c).toLong); c += 1 }
          t += 1
        }
        hs(g) = h; g += 1
      }
      java.util.Arrays.sort(hs, 0, m)
      var d = 0; g = 0
      while (g < m) {
        if (d == 0 || hs(g) != hs(d - 1)) { hs(d) = hs(g); d += 1 }
        g += 1
      }
      java.util.Arrays.copyOf(hs, d)
    }

    /** LSH band keys of the shingle set's signature, one per band. */
    def bandKeys(sh: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) {
        val seed = seeds(i)
        var m = Long.MaxValue; var j = 0
        while (j < sh.length) {
          val v = xorshiftLong(sh(j) ^ seed)
          if (v < m) m = v
          j += 1
        }
        sig(i) = m; i += 1
      }
      val r = if (bands == 0) 0 else numHashes / bands
      Array.tabulate(bands) { b =>
        var h = 42L; var j = 0
        while (j < r) {
          h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(sig(b * r + j), h)
          j += 1
        }
        h
      }
    }
  }

  /**
   * The persisted per-document MinHash frame `(id, __sh, __bk)`: `__sh`
   * the sorted distinct shingle hashes, `__bk` the LSH band keys of
   * `bands` bands over a `numHashes` signature (empty when `bands` is 0,
   * for callers that only need the shingles). One typed `mapPartitions`
   * pass computes both ([[MinHashKernel]]), with values bit-identical to
   * [[shingleHashes]] → [[minhashSignature]] → [[bandHashes]] (those
   * Column forms are interpreted higher-order functions, ~100× slower
   * per doc; SURVEY §2.10: mapPartitions as last resort, justified by
   * measurement).
   *
   * The persist() is a cost barrier, not a cache nicety: the frame feeds
   * the band explode AND both sides of the verification join; without it
   * the whole tokenization re-runs per consumer. At 100 TB the same
   * barrier is a checkpoint to storage instead.
   */
  private def shingleFrame(df: DataFrame, idCol: String, textCol: String,
                           shingleK: Int, numHashes: Int = 0,
                           bands: Int = 0): DataFrame = {
    require(numHashes <= MaxHashes, s"numHashes must be <= $MaxHashes")
    require(bands == 0 || numHashes % bands == 0, "numHashes must divide into bands")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { iter =>
        val kernel = new MinHashKernel(shingleK, numHashes, bands)
        iter.map { case (id, text) =>
          val sh = kernel.shingles(text)
          (id, sh, kernel.bandKeys(sh))
        }
      }.toDF(idCol, "__sh", "__bk").transform(graft.core.CacheRegistry.persistTracked)
  }

  /** One `(id, band, band_hash)` row per band key of a [[shingleFrame]]. */
  private def bandRows(sh: DataFrame, idCol: String,
                       bandCol: String, hashCol: String): DataFrame =
    sh.select(col(idCol), posexplode(col("__bk")).as(Seq(bandCol, hashCol)))

  /**
   * Candidate pairs via the LSH bucket join: explode bands, shuffle by
   * (band, bandHash), pair up within buckets only (id_a < id_b). This is
   * the step that replaces the O(n²) all-pairs comparison.
   */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     shingleK: Int = 3, numHashes: Int = 64,
                     bands: Int = 16, maxBucketSize: Int = 0): DataFrame =
    candidatesFromFrame(shingleFrame(df, idCol, textCol, shingleK, numHashes, bands),
      idCol, maxBucketSize)

  private def candidatesFromFrame(sh: DataFrame, idCol: String,
                                  maxBucketSize: Int): DataFrame = {
    val banded0 = bandRows(sh, idCol, "__band", "__bh")
    // optional degenerate-bucket guard (RefinedWeb-style): a bucket of
    // m members contributes m² candidate pairs, so one mega-bucket —
    // boilerplate that survived upstream gates, exact copies not
    // pre-deduped — can dominate the whole join. Capping drops those
    // buckets entirely (bounded, documented recall loss on exactly the
    // pairs an exact-dedup pass should have removed first). Off by
    // default: 0 = unlimited.
    val banded =
      if (maxBucketSize <= 0) banded0
      else {
        val sizes = banded0.groupBy(col("__band"), col("__bh"))
          .agg(count(lit(1)).as("__m"))
          .filter(col("__m") <= maxBucketSize)
          .select("__band", "__bh")
        banded0.join(sizes, Seq("__band", "__bh"), "left_semi")
      }
    banded.select(col("__band"), col("__bh"), col(idCol).as("id_a"))
      .join(banded.select(col("__band"), col("__bh"), col(idCol).as("id_b")),
        Seq("__band", "__bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /**
   * Cross-corpus n-gram contamination: documents in `corpus` sharing at
   * least one k-token shingle with any document in `benchmark` — the
   * standard decontamination sweep run before training on scraped data
   * (13-gram overlap is the published convention). Both sides explode to
   * hashed shingles; the join is a hash equi-join on the 64-bit shingle
   * value, so cost is shuffle(shingles) — never |corpus| × |benchmark|.
   * The benchmark side is usually tiny: broadcast it.
   * Output: (doc_id, n_hits, n_bench_docs) per contaminated corpus doc.
   */
  def contaminationHits(corpus: DataFrame, corpusId: String, corpusText: String,
                        benchmark: DataFrame, benchId: String, benchText: String,
                        shingleK: Int = 13): DataFrame = {
    val c = shingleFrame(corpus, corpusId, corpusText, shingleK)
      .select(col(corpusId), explode(col("__sh")).as("__s"))
    val b = shingleFrame(benchmark, benchId, benchText, shingleK)
      .select(col(benchId).as("__bid"), explode(col("__sh")).as("__s"))
    c.join(broadcast(b), Seq("__s"))
      .groupBy(col(corpusId))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("__bid")).as("n_bench_docs"))
  }

  /** Exact set Jaccard of two `array<bigint>` columns: the codegen'd
    * sorted merge `graft_sorted_jaccard`, equal to
    * `size(array_intersect(a, b)) / size(array_union(a, b))` for any
    * input (see [[graft.functions.SortedJaccard]]). Needs the graft
    * functions in the session (`GraftSession`, or
    * `GraftFunctions.register`). */
  def jaccard(a: Column, b: Column): Column =
    call_function(graft.functions.GraftFunctions.SortedJaccardName, a, b)

  /**
   * Near-duplicate pairs: LSH candidates verified by exact shingle
   * Jaccard >= threshold. Output: (id_a, id_b, jaccard).
   */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleK: Int = 3,
                   numHashes: Int = 64, bands: Int = 16,
                   maxBucketSize: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sh = shingleFrame(df, idCol, textCol, shingleK, numHashes, bands)
    candidatesFromFrame(sh, idCol, maxBucketSize)
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        TextOps.evalOnce(jaccard(col("__sh_a"), col("__sh_b"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * EXACT threshold Jaccard self-join by prefix filtering (Chaudhuri,
   * Ganti & Kaushik ICDE'06 SSJoin; Bayardo, Ma & Srikant WWW'07
   * AllPairs): every pair (id_a < id_b) whose k-token-shingle SETS have
   * Jaccard ≥ tauNum/tauDen — with NO false negatives, the exact
   * complement to the probabilistic MinHash-LSH path
   * ([[nearDupPairs]]). Where LSH trades recall for bucket locality,
   * prefix filtering keeps exactness and gets its bound from a global
   * rarest-first token order: a document of set size s only emits its
   * p = s − ⌈tau·s⌉ + 1 RAREST shingles as join keys, and any pair at
   * or above the threshold provably shares one of those prefix tokens.
   *
   * The threshold is a RATIONAL (tauNum/tauDen) so every comparison is
   * integer: prefix length p = s − ⌈tauNum·s/tauDen⌉ + 1 by integer
   * ceil-division, the accept test inter·tauDen ≥ tauNum·union — no
   * float crosses an engine boundary (only the reported `jaccard`
   * column is a rounded double), the round-before-compare convention
   * taken to its limit.
   *
   * Scale shape: one shuffle for document frequencies, one window per
   * doc for the rarest-first rank (partition = doc — bounded by doc
   * length, never corpus-wide), one equi-join on prefix tokens, one
   * (id, token) equi-join pair for exact verification. The prefix
   * tokens are by construction the LOW-df tail of the vocabulary, so
   * candidate buckets are small exactly where a naive token join
   * explodes (stopword buckets never become join keys unless a doc is
   * so short its whole set is prefix). Candidate count is the verified
   * upper bound on pair work — there is no m²-bucket hazard to cap.
   *
   * Output: (id_a, id_b, inter, uni, jaccard) — intersection/union
   * sizes as BIGINT, jaccard rounded to 6 digits.
   *
   * When to use (measured, SCALE.md r8 probe): [[nearDupPairs]] (LSH)
   * is ~7× cheaper at the same threshold and recalls every pair on
   * realistic near-dup corpora — it stays the default. Reach for this
   * join when the no-false-negative guarantee is contractual
   * (compliance dedup, takedown sweeps, decontamination audits) or τ is
   * low enough that LSH's miss band is material. Both scale linearly.
   */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                        tauNum: Int, tauDen: Int, shingleK: Int = 3,
                        checkpoint: graft.core.CheckpointStrategy =
                          graft.core.CheckpointStrategy.Local): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"need 0 < tauNum/tauDen <= 1 (got $tauNum/$tauDen)")
    // distinct string shingles, exploded — cached: feeds dfs, ranks,
    // and both verification probes. Widened first: the interpreted
    // shingle expression otherwise runs in the single-file scan's one
    // task (measured r14: 3.3 s of the query's 4.5 s wall)
    val toks = graft.core.CacheRegistry.persistTracked(
      graft.core.Parallel.widen(df)
        .select(col(idCol).as("__id"),
          explode(TextOps.stringShingles(col(textCol), shingleK)).as("__tok")))
    val dfreq = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // rarest-first global order (df, then token for determinism);
    // integer ceil-division for the prefix length — the double division
    // below is exact-then-truncate (operands < 2^52, quotient never
    // within 1/tauDen of an integer unless it IS one)
    val p = col("__s") -
      ((lit(tauNum) * col("__s") + lit(tauDen - 1)) / lit(tauDen))
        .cast("long") + lit(1)
    // __s rides the SAME __id-keyed window exchange as the rank (guide
    // §2.4 "window keyed like a preceding aggregation shares one
    // exchange") — the former groupBy-count + join cost two extra
    // stages for a value the window partition already holds
    val prefix = toks.join(dfreq, Seq("__tok"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("__tok"))))
      .withColumn("__s", count(lit(1)).over(Window.partitionBy("__id")))
      .filter(col("__r") <= p)
      .select(col("__tok"), col("__id"), col("__s"))
    // candidates: shared prefix token + the symmetric length filter
    // (J >= tau forces min(sa,sb)*tauDen >= tauNum*max(sa,sb))
    val cand = prefix.as("pa").join(prefix.as("pb"),
        col("pa.__tok") === col("pb.__tok") &&
          col("pa.__id") < col("pb.__id"))
      .select(col("pa.__id").as("id_a"), col("pb.__id").as("id_b"),
        col("pa.__s").as("__sa"), col("pb.__s").as("__sb"))
      .filter(least(col("__sa"), col("__sb")) * lit(tauDen) >=
        lit(tauNum) * greatest(col("__sa"), col("__sb")))
      .distinct()
    // exact verification: intersection via two (id, token) equi-joins.
    // Deliberately NOT a forced broadcast of the candidate table: the
    // pair count scales with near-dup density (m² inside an undeduped
    // clique), so it is only sometimes small — AQE converts these to
    // broadcast at runtime when the measured size allows, which is the
    // right call per-corpus
    val out = checkpoint.cut(
      cand
        .join(toks.select(col("__id").as("id_a"), col("__tok")), Seq("id_a"))
        .join(toks.select(col("__id").as("id_b"), col("__tok")),
          Seq("id_b", "__tok"))
        .groupBy("id_a", "id_b", "__sa", "__sb")
        .agg(count(lit(1)).as("inter"))
        .withColumn("uni", col("__sa") + col("__sb") - col("inter"))
        .filter(col("inter") * lit(tauDen) >= lit(tauNum) * col("uni"))
        .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
          round(col("inter").cast("double") / col("uni").cast("double")
            + lit(1e-9), 6).as("jaccard")))
    graft.core.CacheRegistry.release(toks)
    out
  }

  /**
   * Exact edit-distance threshold self-join (ED-Join, Xiao et al.,
   * VLDB'08 pattern): all unordered id pairs whose `strCol` values are
   * within Levenshtein distance `tau`, with the distance. EXACT — the
   * filter chain only prunes pairs provably outside the threshold, and
   * every surviving candidate is verified with a real `levenshtein`
   * call; the oracle for this operator is the brute-force all-pairs
   * join, so a hash match proves no false negatives.
   *
   * Filter chain, all on DISTINCT strings (the dedup-first collapse: a
   * low-cardinality string column — names, brands, titles — reduces the
   * candidate problem to its distinct values; id pairs are re-expanded
   * by two equi-joins at the end, so the output cost is the answer's
   * own size, never the candidate stage's):
   *
   *  1. positional q-grams per distinct string, ranked rarest-first by
   *     corpus gram frequency (the [[prefixJaccardJoin]] ordering);
   *  2. PREFIX filter: strings with ed ≤ τ share ≥ max(l)−q+1−q·τ
   *     position-compatible grams (each edit destroys ≤ q grams), so
   *     their (q·τ+1)-prefixes under the global order must share a gram
   *     — candidates come from a bucketed equi-join on prefix grams,
   *     never all-pairs;
   *  3. POSITION filter inside the gram buckets (|pos_a − pos_b| ≤ τ)
   *     and the symmetric LENGTH filter (|l_a − l_b| ≤ τ);
   *  4. SHORT-STRING valve: the count bound is vacuous when BOTH
   *     lengths ≤ q(τ+1)−1, so short×short pairs are generated by a
   *     length-band equi-join instead (b exploded over l±τ keys — an
   *     equi-join plan, no CartesianProduct), bounded by the tiny
   *     universe of strings that short;
   *  5. exact `levenshtein ≤ τ` verification on the candidates only.
   *
   * Identical strings (distance 0) pair via the distinct-value groups
   * directly. Output: (id_a, id_b, dist), id_a < id_b, dist BIGINT.
   *
   * Scale shape: gram buckets are keyed by (rare) prefix grams — the
   * rarest-first order keeps bucket sizes near the gram-frequency
   * floor; everything shuffles on gram/string keys; the final
   * expansion is two equi-joins against the (id, string) projection.
   */
  def qgramEditJoin(df: DataFrame, idCol: String, strCol: String,
                    tau: Int, q: Int = 2,
                    checkpoint: graft.core.CheckpointStrategy =
                      graft.core.CheckpointStrategy.Local): DataFrame = {
    require(tau >= 1, s"tau $tau must be >= 1")
    require(q >= 2, s"q $q must be >= 2")
    val shortMax = q * (tau + 1) - 1 // both <= this => count bound <= 0
    val strs = graft.core.CacheRegistry.persistTracked(
      df.select(col(strCol).as("__s")).filter(col("__s").isNotNull)
        .distinct().withColumn("__l", length(col("__s"))))
    // positional q-grams of every distinct string long enough to have any
    val grams = strs.filter(col("__l") >= q)
      .select(col("__s"), col("__l"), explode(transform(
        sequence(lit(1), col("__l") - q + 1),
        i => struct(col("__s").substr(i, lit(q)).as("g"), i.as("p"))))
        .as("__gp"))
      .select(col("__s"), col("__l"), col("__gp.g").as("__g"),
        col("__gp.p").as("__p"))
    val dfreq = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    val prefix = grams.join(dfreq, Seq("__g"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("__s").orderBy(col("__df"), col("__g"), col("__p"))))
      .filter(col("__r") <= q * tau + 1)
      .select(col("__g"), col("__p"), col("__s"), col("__l"))
    val candLong = prefix.as("pa").join(prefix.as("pb"),
        col("pa.__g") === col("pb.__g") &&
          col("pa.__s") < col("pb.__s") &&
          abs(col("pa.__p") - col("pb.__p")) <= tau)
      .filter(abs(col("pa.__l") - col("pb.__l")) <= tau)
      .select(col("pa.__s").as("__sa"), col("pb.__s").as("__sb"))
    // short×short pairs via a length-band equi-join (no cartesian)
    val shorts = strs.filter(col("__l") <= shortMax)
    val candShort = shorts.as("sa").join(
        shorts.select(col("__s"), explode(sequence(col("__l") - tau,
          col("__l") + tau)).as("__k")).as("sb"),
        col("sa.__l") === col("sb.__k") && col("sa.__s") < col("sb.__s"))
      .select(col("sa.__s").as("__sa"), col("sb.__s").as("__sb"))
    val verified = candLong.unionByName(candShort).distinct()
      .withColumn("__d", levenshtein(col("__sa"), col("__sb")))
      .filter(col("__d") <= tau)
    // identical strings: distance 0 inside each distinct-value group
    val pairs = verified.unionByName(
      strs.select(col("__s").as("__sa"), col("__s").as("__sb"),
        lit(0).as("__d")))
    val ids = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
    // cut BEFORE releasing the distinct-strings cache: `out` is lazy,
    // so an un-cut release would unpersist at plan-build time and every
    // consumer would re-scan + re-distinct the input once per branch
    // (the prefixJaccardJoin pattern — the cut materializes eagerly).
    // The cut sits on the DISTINCT-NAME pairs, BEFORE the id expansion:
    // pairs is bounded by matching distinct-string pairs (tiny — the
    // gram filters already did their work) while the expansion can be
    // orders of magnitude larger on duplicate-heavy columns (measured
    // r13: 2k name pairs -> 5.5M id pairs on the sf0.1 part fixture;
    // cutting after the expansion pushed all 5.5M rows through the
    // block manager for no consumer benefit — the expansion is two
    // cheap lazy equi-joins off the raw input, which the cut's lineage
    // severance doesn't need to cover).
    val pairsCut = checkpoint.cut(pairs)
    val out = pairsCut
      .join(ids.select(col("__id").as("__ia"), col("__s").as("__sa")),
        Seq("__sa"))
      .join(ids.select(col("__id").as("__ib"), col("__s").as("__sb")),
        Seq("__sb"))
      .filter(col("__sa") =!= col("__sb") || col("__ia") < col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("__d").cast("long").as("dist"))
    graft.core.CacheRegistry.release(strs)
    out
  }

  private val BitPowers: Array[Long] = (0 until 64).map(1L << _).toArray

  /**
   * 64-bit SimHash: per token, hash to 64 bits; per bit position, count
   * +1/-1 across tokens; the sign vector packs into one long. Documents
   * within small Hamming distance are near-duplicates. Pure higher-order
   * column work — O(tokens × 64) per doc, no shuffle.
   */
  def simhash(text: Column): Column = {
    // hash each token ONCE; bit extraction is then 64 shifts per token,
    // not 64 re-hashes (interpreted HOFs make that 10x+ in practice)
    val hs = transform(TextOps.tokens(lower(text)), t => xxhash64(t))
    val counts = aggregate(hs, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(63)),
          b => call_function("shiftright", h, b).bitwiseAND(lit(1L))),
        (a, bit) => a + bit * 2L - 1L))
    aggregate(
      zip_with(counts, lit(BitPowers), (c, p) => when(c > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b))

  /**
   * Banded SimHash LSH candidates — the equi-join replacement for the
   * all-pairs comparison. The 64-bit hash splits into `bands` equal
   * chunks; by pigeonhole, hamming(a,b) <= bands-1 implies at least one
   * chunk is bit-identical, so joining on (band, chunk) has FULL recall
   * for distances up to bands-1 (default 4×16-bit bands → hamming <= 3)
   * while touching only same-bucket pairs. Same shuffle shape as the
   * MinHash banding: explode to (band, chunk), shuffle once on that key,
   * pair within buckets — sum(|bucket|²) cost, never n².
   */
  def simhashCandidates(sh: DataFrame, idCol: String,
                        simhashCol: String = "simhash",
                        bands: Int = 4): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val banded = sh.select(col(idCol),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            call_function("shiftright", col(simhashCol), b * lit(width))
              .bitwiseAND(lit(mask)).as("chunk")))).as("__b"))
      .select(col(idCol), col("__b.band").as("__band"),
        col("__b.chunk").as("__chunk"))
    banded.select(col("__band"), col("__chunk"), col(idCol).as("id_a"))
      .join(banded.select(col("__band"), col("__chunk"), col(idCol).as("id_b")),
        Seq("__band", "__chunk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /**
   * SimHash near-dup pairs: banded candidates verified by exact Hamming
   * distance. `maxHamming` must stay below `bands` or banding loses
   * recall (pigeonhole bound). Output: (id_a, id_b, hamming).
   */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, bands: Int = 4,
                          tokenHash: String => Long = hash64): DataFrame = {
    require(maxHamming < bands,
      s"maxHamming=$maxHamming needs bands > maxHamming for full recall")
    // persist: feeds the banded self-join AND both verification joins —
    // without the barrier the simhash scan recomputes 4x (ownership: see
    // the caching note on shingleFrame; callers release via clearCache)
    val sh = graft.core.CacheRegistry.persistTracked(
      simhashFrame(df, idCol, textCol, tokenHash))
    simhashCandidates(sh, idCol, "simhash", bands)
      .join(sh.select(col(idCol).as("id_a"), col("simhash").as("sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("simhash").as("sh_b")), Seq("id_b"))
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /**
   * Connected components over an undirected edge list — the step that
   * turns near-dup PAIRS into dedup CLUSTERS (component id = min doc id,
   * the canonical survivor). Alternating large-star / small-star
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14): each round is two groupBy+join passes, and the edge set
   * contracts toward star graphs rooted at the component minimum in
   * O(log² n) rounds — no component ever materializes on one node, no
   * driver-side union-find, so the 10⁹-node near-dup graph a 100 TB
   * corpus produces stays fully distributed.
   *
   * The per-round checkpoint is load-bearing, not a cache nicety: each
   * round references the previous edge set ~12×, so the LOGICAL PLAN
   * grows exponentially even under persist() (persist caches data, not
   * plan analysis — measured: 118 s for a 139-edge graph with persist,
   * sub-second per round with checkpointing). WHERE the cut lives is the
   * `checkpoint` parameter: `CheckpointStrategy.Local` (default — the
   * single-machine shape) vs `CheckpointStrategy.Reliable(dir)` (durable
   * storage, the cluster setting where executor loss can't lose a
   * round).
   *
   * Returns (id, component) for every node incident to an edge; isolated
   * nodes are absent (callers coalesce to their own id).
   *
   * Size-aware escape hatch: the near-dup edge set is orders of
   * magnitude smaller than the corpus (it holds only LSH-verified
   * pairs), and below `driverThreshold` edges the iterative rounds'
   * job-scheduling overhead dominates their work (~1.3 s/round measured
   * at the fixture vs ~0.1 s total for a collect + union-find). So small
   * graphs run path-compressed union-find on the driver — identical
   * output (component = min id) — and only genuinely large graphs pay
   * the distributed loop. Pass `driverThreshold = 0` to force the
   * distributed path (the specs do, to keep it covered).
   */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          driverThreshold: Long = 1000000L,
                          checkpoint: graft.core.CheckpointStrategy =
                            graft.core.CheckpointStrategy.Local): DataFrame = {
    val spark = edges.sparkSession
    if (driverThreshold > 0) {
      val e0 = edges.select(
          least(col(aCol), col(bCol)).cast("long").as("u"),
          greatest(col(aCol), col(bCol)).cast("long").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .transform(graft.core.CacheRegistry.persistTracked)
      val n = e0.count()
      if (n <= driverThreshold) {
        val pairs = e0.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val next = parent.getOrElse(c, c); parent(c) = r; c = next
          }
          r
        }
        pairs.foreach { case (u, v) =>
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) { // union by MIN root so component id = min node id
            if (ru < rv) parent(rv) = ru else parent(ru) = rv
          }
        }
        val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        val out = nodes.map(id => (id, find(id)))
        import spark.implicits._
        return out.toSeq.toDF("id", "component")
      }
    }
    connectedComponentsDistributed(edges, aCol, bCol, maxIter, checkpoint)
  }

  /** The distributed large-star/small-star loop (see
    * [[connectedComponents]] for the algorithm and checkpointing notes). */
  def connectedComponentsDistributed(edges: DataFrame, aCol: String, bCol: String,
                                     maxIter: Int = 25,
                                     checkpoint: graft.core.CheckpointStrategy =
                                       graft.core.CheckpointStrategy.Local): DataFrame = {
    var e = checkpoint.cut(edges.select(
        least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var eCount = e.count()
    var iter = 0
    var converged = eCount == 0
    while (!converged && iter < maxIter) {
      // large-star: every node x links its LARGER neighbors to
      // m(x) = min(N(x) ∪ {x}); pairs (m, y) stay canonical since m < y
      val dirAll = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      val mins = dirAll.groupBy("x")
        .agg(min(col("y")).as("__mn"))
        .select(col("x"), least(col("__mn"), col("x")).as("m"))
      val large = checkpoint.cut(dirAll.filter(col("y") > col("x"))
        .join(mins, Seq("x"))
        .select(col("m").as("u"), col("y").as("v"))
        .filter(col("u") =!= col("v")).distinct())
      // small-star: every node v links its SMALLER neighbors (and itself)
      // to the minimum of that set; canonical pairs put those at u
      val sm = large.groupBy("v").agg(min(col("u")).as("m"))
      val small = checkpoint.cut(sm.select(col("m").as("u"), col("v"))
        .unionByName(large.join(sm, Seq("v"))
          .filter(col("u") =!= col("m"))
          .select(col("m").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct())
      val smallCount = small.count()
      converged = smallCount == eCount && small.exceptAll(e).isEmpty
      e = small
      eCount = smallCount
      iter += 1
    }
    if (!converged && eCount > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // at convergence edges are stars (component-min, member)
    e.select(col("v").as("id"), col("u").as("component"))
      .unionByName(e.select(col("u").as("id"), col("u").as("component")))
      .distinct()
  }

  /**
   * Near-dup clustering end-to-end: MinHash-LSH pairs → connected
   * components → (doc_id, component, is_canonical) for EVERY input doc
   * (docs with no near-dup form their own singleton component).
   */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleK: Int = 3,
                      numHashes: Int = 64, bands: Int = 16,
                      checkpoint: graft.core.CheckpointStrategy =
                        graft.core.CheckpointStrategy.Local,
                      driverThreshold: Long = 1000000L): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, shingleK,
      numHashes, bands)
    val comp = connectedComponents(pairs, "id_a", "id_b",
      checkpoint = checkpoint, driverThreshold = driverThreshold)
    df.select(col(idCol).cast("long").as(idCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("is_canonical", col(idCol) === col("component"))
  }

  /**
   * Cluster-representative selection — the decision step that turns a
   * near-dup clustering into a pruned corpus (the RefinedWeb /
   * SlimPajama "keep one document per duplicate cluster" posture, where
   * the kept member is the best-quality one rather than an arbitrary
   * id): every input doc comes back with its component, its quality,
   * and `kept` = whether it is the cluster's representative — the
   * member maximizing (quality, then lowest id on ties). Singleton
   * components keep their only member, so `filter($"kept")` is the
   * pruned corpus and the complement is the audit trail of what near-dup
   * pruning dropped and to which survivor each drop collapsed.
   *
   * Shape at 100 TB: [[nearDupClusters]]'s cost plus ONE map-side-
   * combinable hash aggregate (component → max(struct(quality, -id)),
   * one row per cluster out) and one equi-join back on component — no
   * window sort over members, no per-cluster driver state. The quality
   * column is caller-supplied (doc length, a classifier score, an LM
   * score), so selection composes with any scorer in `ext/`.
   */
  def keepBestPerCluster(df: DataFrame, idCol: String, textCol: String,
                         quality: Column, threshold: Double,
                         shingleK: Int = 3, numHashes: Int = 64,
                         bands: Int = 16,
                         checkpoint: graft.core.CheckpointStrategy =
                           graft.core.CheckpointStrategy.Local,
                         driverThreshold: Long = 1000000L): DataFrame = {
    val clustered = nearDupClusters(df, idCol, textCol, threshold,
      shingleK, numHashes, bands, checkpoint, driverThreshold)
    // persist barrier: the scored frame feeds BOTH the per-component
    // max aggregate and the join probe side — without it the whole
    // MinHash/LSH/components chain above runs twice
    val scored = graft.core.CacheRegistry.persistTracked(
      df.select(col(idCol).cast("long").as(idCol), quality.as("quality"))
        .join(clustered.select(col(idCol), col("component")), Seq(idCol)))
    val best = scored.groupBy("component")
      .agg(max(struct(col("quality").as("q"), (-col(idCol)).as("negid")))
        .as("__best"))
    scored.join(best, Seq("component"))
      .select(col(idCol), col("component"), col("quality"),
        (col("quality") === col("__best").getField("q") &&
          col(idCol) === -col("__best").getField("negid")).as("kept"))
  }

  /**
   * Leakage-safe train/val/test split: cluster near-duplicates FIRST,
   * then decide the split from the md5 cell of the COMPONENT id — so
   * every member of a duplicate cluster lands in the same split and a
   * validation document can never have a near-copy in train (the
   * contamination mode a per-document hash split silently permits; the
   * eval-hygiene complement of [[contaminationHits]]). Cell → split
   * thresholds are exactly [[graft.ext.Corpus.hashSplit]]'s, applied to
   * the component instead of the doc id.
   *
   * Shape at 100 TB: [[nearDupClusters]]'s cost (banded LSH + O(log² n)
   * components, no all-pairs), then the split is one md5 on an already
   * materialized column — no extra exchange. Returns every input doc as
   * (idCol, component, is_canonical, split).
   */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleK: Int = 3,
                       numHashes: Int = 64, bands: Int = 16,
                       trainCells: Int = 230, valCells: Int = 13,
                       checkpoint: graft.core.CheckpointStrategy =
                         graft.core.CheckpointStrategy.Local,
                       driverThreshold: Long = 1000000L): DataFrame =
    nearDupClusters(df, idCol, textCol, threshold, shingleK, numHashes,
        bands, checkpoint, driverThreshold)
      .withColumn("split",
        graft.ext.Corpus.hashSplit(col("component"), trainCells, valCells))

  /**
   * Oracle-reproducible token hash: the top 60 bits of md5 (== the first
   * 15 hex chars parsed base-16, < 2⁶³ so it stays a valid signed long).
   * md5 is engine-independent, so a SimHash built on this hash can be
   * recomputed bit-identically by any SQL engine with an md5 function —
   * which is what lets `ext_simhash_pairs` carry a DuckDB oracle. The
   * default internal hash64 stays the production path (no digest
   * allocation per token).
   */
  val md5Hash60: String => Long = { s =>
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /**
   * Typed SimHash frame (hot-path twin of [[simhash]] — same algorithm,
   * token hashes from `tokenHash`, default the internal hash64):
   * (id, simhash) per row via a mapPartitions tight loop. Use this form
   * for corpus-scale scans; the Column form remains for expression
   * composition.
   */
  def simhashFrame(df: DataFrame, idCol: String, textCol: String,
                   tokenHash: String => Long = hash64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { iter =>
        iter.map { case (id, text) =>
          val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
          val counts = new Array[Int](64)
          var t = 0
          while (t < toks.length) {
            val h = tokenHash(toks(t))
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
              b += 1
            }
            t += 1
          }
          var sh = 0L
          var b = 0
          while (b < 64) { if (counts(b) > 0) sh |= (1L << b); b += 1 }
          (id, sh)
        }
      }.toDF(idCol, "simhash")
  }

  /**
   * Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
   * the MOSS algorithm): hash every k-token shingle, slide a w-wide
   * window over each document's hash SEQUENCE and keep each window's
   * minimum. Guarantees: any shared token run of ≥ w + k − 1 tokens
   * yields a shared fingerprint (no false negatives above the
   * guarantee threshold), while storing only ~2/(w+1) of the hashes —
   * position-independent, so prepended/reordered noise around a copied
   * passage cannot hide it (the property MinHash resemblance lacks:
   * winnowing localizes WHICH spans match, not just how similar the
   * bags are).
   *
   * Output: (idCol, fp) — the DISTINCT selected 16-bit hashes per doc.
   * Docs shorter than k tokens emit nothing; docs with fewer than w
   * shingles emit the min over what they have (one truncated window).
   *
   * Scale shape: the only window runs per-document (partition = doc,
   * bounded by doc length — never corpus-wide); fingerprints are 16-bit
   * md5 prefixes, so the downstream overlap join shuffles on a
   * bounded-cardinality key. Hash collisions add deterministic false
   * sharing (both engines compute the same md5), bounded by the
   * [[winnowOverlap]] df cull.
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1, w >= 1; got k=$k w=$w")
    // widen the single-file scan before the per-gram md5 lane (one md5 +
    // base-conversion per k-gram otherwise runs in the scan's one task;
    // guide §2.5 — guarded no-op on multi-split inputs)
    val grams = graft.core.Parallel.widen(df)
      .select(col(idCol), TextOps.tokens(lower(col(textCol))).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("__toks")) - (k - 1)),
          i => concat_ws(" ", slice(col("__toks"), i, lit(k))))))
      .select(col(idCol), col("pos"),
        conv(substring(md5(col("col")), 1, 4), 16, 10)
          .cast("int").as("__h"))
    val perDoc = Window.partitionBy(col(idCol))
    val frame = perDoc.orderBy(col("pos")).rowsBetween(0, w - 1)
    grams
      .withColumn("__n", count(lit(1)).over(perDoc))
      .withColumn("__wmin", min(col("__h")).over(frame))
      // windows start at 0 .. n−w (one truncated window for short docs)
      .filter(col("pos") <= greatest(col("__n") - w, lit(0)))
      .select(col(idCol), col("__wmin").as("fp")).distinct()
  }

  /**
   * Fingerprint-overlap pairs: docs sharing ≥ `minShared` winnowing
   * fingerprints, with Jaccard over the fingerprint sets. Fingerprints
   * appearing in more than `maxDf` docs are culled first (ubiquitous
   * phrases — the stop-fingerprint cull; same role as the prefix-join
   * df cap): the join cost is Σ_fp df(fp)², so the cull bounds the
   * blowup a boilerplate fingerprint would cause at corpus scale.
   */
  def winnowOverlap(fps: DataFrame, idCol: String,
                    minShared: Long = 2L, maxDf: Long = 64L): DataFrame = {
    val culled = fps.withColumn("__df",
        count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("__df") <= maxDf).drop("__df")
    val sizes = culled.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"))
    val shared = culled.select(col(idCol).as("a"), col("fp"))
      .join(culled.select(col(idCol).as("b"), col("fp")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    shared
      .join(sizes.select(col(idCol).as("a"), col("__n").as("__na")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("__n").as("__nb")), Seq("b"))
      .select(col("a"), col("b"), col("shared"),
        round(col("shared") / (col("__na") + col("__nb") - col("shared"))
          + lit(1e-9), 6).as("fp_jaccard"))
  }
}
