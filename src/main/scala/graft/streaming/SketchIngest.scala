package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Materialize.replaceTable

/**
 * Streaming cardinality monitor: every micro-batch folds its keys into
 * a standing [[graft.functions.HyperLogLog]] register table and appends
 * one estimate row per group — the production posture where an ingest
 * feed continuously reports "how many distinct X have we seen per
 * source" without ever holding the key universe (vocabulary growth,
 * user-id reach, URL frontier size).
 *
 * Tables: `<prefix>_hll_regs` (group, reg, rho) is APPEND-ONLY — the
 * batch's own 64-registers-per-group are appended each trigger and
 * readers collapse with max(rho). Replay needs no guard here: a
 * crash-replayed trigger appends byte-identical register rows that
 * collapse in the max — the bm25Ingest replay-dupes-are-exact argument
 * strengthened to full idempotence (max ∘ max = max).
 * `<prefix>_hll_est` (batch_id, group, est, n_new) holds the
 * per-trigger estimate trajectory; it IS batch-id replay-guarded
 * (estimate rows are not idempotent), and written LAST — the
 * marks-write-last watermark: a crash between the two writes replays
 * into harmless register dupes plus the missing estimate row.
 *
 * Per-trigger cost: one batch-sized register aggregation (64 rows per
 * group out of the shuffle) + a collapse of the standing register
 * table. Every append is ONE file ([[Replay.appendOneFile]]), so
 * standing-table reads list O(triggers) files, not O(triggers × tasks),
 * and a crash mid-append leaves all of a batch's rows or none of them.
 * For a monitor that lives beyond thousands of triggers,
 * [[compactHll]]/[[compactBloom]]/[[compactCms]] rewrite the
 * standing state to its collapsed form without breaking the replay
 * arguments (each scaladoc carries the proof obligation) — either on
 * the operator's own schedule or wired in-trigger via the ingests'
 * `compactEvery` knob.
 *
 * Every compaction commits through
 * [[graft.core.Materialize.replaceTable]]'s location swap: the
 * collapsed state is written in full to a fresh `<table>__v<uuid>`
 * directory, `ALTER TABLE … SET LOCATION` points the catalog at it,
 * then the old version is deleted. The standing tables are
 * unpartitioned parquet, so the swap keeps their catalog entry and
 * later appends land in the new version. A crash before the
 * `SET LOCATION` leaves an orphan version directory beside the intact
 * old state; a crash after it leaves the old version beside the live
 * new one. Neither needs recovery — the next compaction (or
 * `dropWithLocation`) sweeps the leftover — so no trigger runs a
 * recovery probe. A compaction must run quiesced relative to
 * triggers: an append that lands in the old version while the new one
 * is being written is swapped away with it. In-trigger compaction
 * discharges that by construction (a micro-batch sink cannot race its
 * own next trigger); an operator-scheduled one runs between triggers,
 * the OPTIMIZE/VACUUM posture.
 */
object SketchIngest {

  /** The stream wrapper of every monitor here: [[Replay.stream]] over
    * the monitor's `apply`, then the in-trigger compaction cadence (see
    * [[hllIngest]]'s `compactEvery`). */
  private def monitor(stream: DataFrame, checkpoint: Option[String],
                      compactEvery: Int)(
      apply: (DataFrame, Long, Option[Long]) => Long)(
      compact: SparkSession => Unit): StreamingQuery =
    Replay.stream(stream, checkpoint) { (batch, batchId, last) =>
      val w = apply(batch.toDF(), batchId, last)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        compact(batch.sparkSession)
      w
    }

  /** `compactEvery` (0 = never; DEFAULT 8, the measured recommendation
    * — SCALE.md's trigger-growth table shows uncompacted state walls
    * growing ×2–4 by trigger 128 while cadence 8 stays flat in age, so
    * a monitor built with defaults gets the production posture) wires
    * the maintenance pass into the monitor itself: every N committed
    * batches the standing state is compacted from INSIDE the
    * foreachBatch, where quiescence is structural — a micro-batch sink
    * cannot race its own next trigger, so the "run quiesced relative to
    * triggers" obligation the manual compactions carry is discharged by
    * construction. Cadence is (batchId + 1) % N == 0, so replaying a
    * compaction-bearing trigger re-runs the (idempotent) compaction. */
  def hllIngest(stream: DataFrame, keyCol: String, groupCol: String,
                tablePrefix: String,
                checkpoint: Option[String] = None,
                compactEvery: Int = 8): StreamingQuery =
    monitor(stream, checkpoint, compactEvery)(
      applyBatch(_, _, keyCol, groupCol, tablePrefix, _))(
      compactHll(_, tablePrefix))

  /**
   * Streaming SET-EXPRESSION cardinality monitor: every micro-batch
   * folds its keys into a standing [[graft.functions.KmvSketch]]
   * bottom-k hash table and appends one estimate row per group. Where
   * [[hllIngest]] answers "how many distinct X per source", the KMV
   * state additionally supports cross-group union/INTERSECTION/Jaccard
   * after the fact ([[graft.functions.KmvSketch.setOps]]) — "how many
   * users did feeds A and B both see this week" — off the same ≤ k
   * hashes per group, no re-scan.
   *
   * Tables: `<prefix>_kmv_hashes` (group, hash) is APPEND-ONLY — the
   * batch's own bottom-k per group is appended each trigger and
   * readers collapse with DISTINCT + re-rank ≤ k (KMV is closed under
   * union). Replay needs no guard here: a crash-replayed trigger
   * appends byte-identical hash rows that vanish in the DISTINCT — the
   * HLL-register idempotence argument with set-union replacing
   * max-collapse. `<prefix>_kmv_est` (batch_id, group, est, n_new)
   * holds the estimate trajectory; it IS batch-id replay-guarded and
   * written LAST (marks-write-last).
   *
   * Per-trigger cost: one map-side-bounded MinK aggregation over the
   * batch (≤ k hashes per group reach the shuffle) + a collapse of the
   * standing table (≤ k × triggers-since-compaction rows per group;
   * `compactEvery` keeps it ≤ 2k amortized).
   */
  def kmvIngest(stream: DataFrame, keyCol: String, groupCol: String,
                tablePrefix: String, k: Int = 256,
                checkpoint: Option[String] = None,
                compactEvery: Int = 8): StreamingQuery =
    monitor(stream, checkpoint, compactEvery)(
      applyBatchKmv(_, _, keyCol, groupCol, tablePrefix, k, _))(
      compactKmv(_, tablePrefix, k))

  /** One KMV trigger's work, exposed for direct at-least-once testing
    * (the [[applyBatch]] convention). */
  def applyBatchKmv(batch: DataFrame, batchId: Long, keyCol: String,
                    groupCol: String, tablePrefix: String, k: Int,
                    knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val hashT = tablePrefix + "_kmv_hashes"
    val estT = tablePrefix + "_kmv_est"
    Replay.once(spark, estT, "batch_id", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        // count rides the hash append as an Observation (see applyBatch)
        val obs = org.apache.spark.sql.Observation()
        val b = graft.core.CacheRegistry.persistTracked(
          batch.observe(obs, count(lit(1)).as("n")))
        Replay.appendOneFile(graft.functions.KmvSketch
          .bottomKAgg(b, keyCol, k, Seq(groupCol))
          .select(col(groupCol), col("hash")), hashT)
        spark.catalog.refreshTable(hashT)
        val nNew = obs.get("n").asInstanceOf[Long]
        if (nNew > 0) {
          val collapsed = graft.functions.KmvSketch
            .rerank(spark.table(hashT), k, Seq(groupCol))
          Replay.appendOneFile(
            graft.functions.KmvSketch.estimate(collapsed, k, Seq(groupCol))
              .select(lit(batchId).as("batch_id"), col(groupCol), col("est"),
                lit(nNew).as("n_new")),
            estT)
        }
      }
    }
  }

  /**
   * Compact the KMV standing hash table to its bottom-k collapse —
   * ≤ k rows per group TOTAL instead of ≤ k per trigger. Replay stays
   * correct because KMV is closed under union: bottom-k(compacted ∪
   * replayed-dupes ∪ future) = bottom-k(all appends) — hashes above
   * the k-th per group can never re-enter any future bottom-k, so
   * dropping them commutes with every future merge. No batch
   * provenance needed or kept (the [[compactHll]] argument, with
   * set-union replacing max).
   */
  def compactKmv(spark: SparkSession, tablePrefix: String, k: Int): Unit = {
    val hashT = tablePrefix + "_kmv_hashes"
    if (!spark.catalog.tableExists(hashT)) return
    val t = spark.table(hashT)
    val groupCols = t.columns.filterNot(_ == "hash").toSeq
    replaceTable(spark, hashT,
      graft.functions.KmvSketch.rerank(t, k, groupCols)
        .select(t.columns.map(col): _*))
  }

  /**
   * Streaming RANK-error quantile monitor — the
   * [[graft.functions.QuantileSketch]] bottom-k-by-hash sample as the
   * standing state unit, closing [[histQuantileIngest]]'s domain-width
   * gap: no `width` knob, error in rank units (DKW ε = sqrt(ln(2/δ)/2k))
   * whatever the value distribution. Each trigger folds the batch's own
   * ≤ k-pair sample per group into a standing sample table and appends
   * one p50/p90 estimate row per group.
   *
   * Tables: `<prefix>_qsk_sample` (group, hash, val) is APPEND-ONLY —
   * readers collapse with DISTINCT + re-rank ≤ k on (hash, val)
   * (closure under union, the KMV argument: a pair outside a side's
   * bottom-k is outside the union's). Replay needs no guard here: a
   * crash-replayed trigger appends byte-identical (hash, val) rows
   * that vanish in the DISTINCT. `<prefix>_qsk_q`
   * (batch_id, group, m, p50, p90, n_new) holds the estimate
   * trajectory; it IS batch-id replay-guarded and written LAST
   * (marks-write-last).
   *
   * Per-trigger cost: one map-side-bounded MinKSample aggregation over
   * the batch (≤ k pairs per group reach the shuffle) + a collapse of
   * the standing table (≤ k × triggers-since-compaction rows per
   * group; `compactEvery` keeps it ≤ 2k amortized).
   */
  def qskIngest(stream: DataFrame, idCol: String, valCol: String,
                groupCol: String, tablePrefix: String, k: Int = 256,
                checkpoint: Option[String] = None,
                compactEvery: Int = 8): StreamingQuery =
    monitor(stream, checkpoint, compactEvery)(
      applyBatchQsk(_, _, idCol, valCol, groupCol, tablePrefix, k, _))(
      compactQsk(_, tablePrefix, k))

  /** One quantile-sketch trigger's work, exposed for direct
    * at-least-once testing (the [[applyBatch]] convention). */
  def applyBatchQsk(batch: DataFrame, batchId: Long, idCol: String,
                    valCol: String, groupCol: String, tablePrefix: String,
                    k: Int, knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val sampleT = tablePrefix + "_qsk_sample"
    val estT = tablePrefix + "_qsk_q"
    Replay.once(spark, estT, "batch_id", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        // count rides the sample append as an Observation (see applyBatch)
        val obs = org.apache.spark.sql.Observation()
        val b = graft.core.CacheRegistry.persistTracked(
          batch.observe(obs, count(lit(1)).as("n")))
        Replay.appendOneFile(graft.functions.QuantileSketch
          .bottomKSampleAgg(b, idCol, valCol, k, Seq(groupCol))
          .select(col(groupCol), col("hash"), col("val")), sampleT)
        spark.catalog.refreshTable(sampleT)
        val nNew = obs.get("n").asInstanceOf[Long]
        if (nNew > 0) {
          val collapsed = graft.functions.QuantileSketch
            .resample(spark.table(sampleT), k, Seq(groupCol))
          Replay.appendOneFile(
            graft.functions.QuantileSketch.estimateQuantiles(collapsed,
                Seq("p50" -> 0.5, "p90" -> 0.9), Seq(groupCol))
              .select(lit(batchId).as("batch_id"), col(groupCol), col("m"),
                col("p50"), col("p90"), lit(nNew).as("n_new")),
            estT)
        }
      }
    }
  }

  /**
   * Compact the standing sample table to its bottom-k collapse — ≤ k
   * rows per group TOTAL instead of ≤ k per trigger. Replay stays
   * correct by closure under union (the [[compactKmv]] argument with
   * (hash, val) pairs replacing hashes): a pair above the k-th per
   * group can never re-enter any future bottom-k, so dropping it
   * commutes with every future merge.
   */
  def compactQsk(spark: SparkSession, tablePrefix: String, k: Int): Unit = {
    val sampleT = tablePrefix + "_qsk_sample"
    if (!spark.catalog.tableExists(sampleT)) return
    val t = spark.table(sampleT)
    val groupCols = t.columns.filterNot(c => c == "hash" || c == "val").toSeq
    replaceTable(spark, sampleT,
      graft.functions.QuantileSketch.resample(t, k, groupCols)
        .select(t.columns.map(col): _*))
  }

  /**
   * Streaming novelty gate: flag each micro-batch key as novel
   * (never seen before, certain) or probably-seen (Bloom membership —
   * false positives possible, false negatives never) WITHOUT holding
   * the key universe anywhere — the state is the ≤ m-row relational
   * Bloom position table, not the keys (first-contact detection over
   * user ids, URL frontier membership, vocabulary growth).
   *
   * Tables: `<prefix>_bloom_pos` (batch_id, pos) is APPEND-ONLY and
   * carries batch provenance: the probe for batch b reads positions
   * WHERE batch_id < b, so the pre-batch filter it sees is
   * deterministic even if a crash-replayed trigger already appended
   * b's own positions — replay dupes carry the same batch_id and
   * collapse in the probe's DISTINCT (the HLL-register idempotence
   * argument, with provenance replacing max-collapse).
   * `<prefix>_bloom_novel` (batch_id, key, novel) is the replay guard,
   * written LAST: a crash between the writes replays into harmless
   * position dupes plus the missing novelty rows, recomputed against
   * the same batch_id < b filter state.
   *
   * Per-trigger cost: k positions per distinct batch key (one explode)
   * + a broadcast semi-join against the ≤ m-row collapsed filter —
   * no shuffle of anything wider than the batch, state O(m) forever.
   */
  /** `compactEvery` as in [[hllIngest]] — in-trigger auto-compaction of
    * the position table every N committed batches. */
  def bloomNoveltyIngest(stream: DataFrame, keyCol: String,
                         tablePrefix: String, k: Int, m: Int,
                         checkpoint: Option[String] = None,
                         compactEvery: Int = 8): StreamingQuery =
    monitor(stream, checkpoint, compactEvery)(
      applyBloomBatch(_, _, keyCol, tablePrefix, k, m, _))(
      compactBloom(_, tablePrefix))

  /** One novelty-gate trigger, exposed for direct at-least-once testing. */
  def applyBloomBatch(batch: DataFrame, batchId: Long, keyCol: String,
                      tablePrefix: String, k: Int, m: Int,
                      knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val posT = tablePrefix + "_bloom_pos"
    val novT = tablePrefix + "_bloom_novel"
    Replay.once(spark, novT, "batch_id", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        // key count rides the position append as an Observation (see
        // applyBatch); an empty batch appends a zero-row position file —
        // invisible to the probe's filter — and no novelty/guard row
        val obs = org.apache.spark.sql.Observation()
        val keys = graft.core.CacheRegistry.persistTracked(
          batch.filter(col(keyCol).isNotNull).select(keyCol).distinct()
            .observe(obs, count(lit(1)).as("n")))
        Replay.appendOneFile(
          graft.functions.BloomSketch.positions(keys, keyCol, k, m)
            .select(lit(batchId).as("batch_id"), col("pos")),
          posT)
        spark.catalog.refreshTable(posT)
        if (obs.get("n").asInstanceOf[Long] > 0) {
          val prior = spark.table(posT).filter(col("batch_id") < batchId)
            .select("pos").distinct()
          Replay.appendOneFile(
            graft.functions.BloomSketch.mightContain(keys, keyCol, prior, k, m)
              .select(lit(batchId).as("batch_id"), col(keyCol),
                (!col("might_contain")).as("novel")),
            novT)
        }
      }
    }
  }

  /**
   * Streaming frequency monitor — the Count-Min side of the sketch
   * trio (HLL = distinct reach, Bloom = novelty, CMS = frequency):
   * every micro-batch folds its key counts into a standing d×w bucket
   * table and appends one estimate row per tracked heavy-hitter
   * candidate — "what are the hottest keys and how hot, trigger by
   * trigger" without holding per-key counts (trending queries,
   * vocabulary heavy hitters, hot-shard detection).
   *
   * Tables: `<prefix>_cms_cnt` (batch_id, j, pos, cnt) is APPEND-ONLY
   * with batch provenance; readers collapse by dropping
   * (batch_id, j, pos) duplicates (crash-replay rows are bit-identical
   * — counts are deterministic per batch) then summing per (j, pos),
   * and filter batch_id <= b so a replayed trigger can never see a
   * later batch's counts. `<prefix>_cms_cand` (batch_id, key) grows by
   * the batch-local top-N keys (TakeOrderedAndProject — bounded,
   * deterministic (count desc, key) tiebreak); same idempotence.
   * `<prefix>_cms_est` (batch_id, key, est) is the replay guard,
   * written LAST: est(b, key) = the CMS point estimate (min over d
   * rows of the cumulative bucket sums through batch b) for every
   * candidate tracked so far.
   *
   * Per-trigger cost: one batch-sized count agg + d×w standing rows
   * (kilobytes — broadcast into the candidate probe) + ≤ N×batches
   * candidate point-queries. State is O(d×w + N×triggers), never
   * O(keys).
   */
  /** `compactEvery` as in [[hllIngest]] — in-trigger auto-compaction of
    * the bucket + candidate tables every N committed batches. */
  def cmsIngest(stream: DataFrame, keyCol: String, tablePrefix: String,
                d: Int, w: Int, topN: Int,
                checkpoint: Option[String] = None,
                compactEvery: Int = 8): StreamingQuery =
    monitor(stream, checkpoint, compactEvery)(
      applyCmsBatch(_, _, keyCol, tablePrefix, d, w, topN, _))(
      compactCms(_, tablePrefix))

  /** One frequency-monitor trigger, exposed for at-least-once testing. */
  def applyCmsBatch(batch: DataFrame, batchId: Long, keyCol: String,
                    tablePrefix: String, d: Int, w: Int, topN: Int,
                    knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val cntT = tablePrefix + "_cms_cnt"
    val candT = tablePrefix + "_cms_cand"
    val estT = tablePrefix + "_cms_est"
    Replay.once(spark, estT, "batch_id", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        // distinct-key count rides the bucket append as an Observation
        // (see applyBatch); an empty batch appends a zero-row bucket file
        // — invisible to the reader's dedupe+sum — and no cand/est rows
        val obs = org.apache.spark.sql.Observation()
        val counts = graft.core.CacheRegistry.persistTracked(
          batch.filter(col(keyCol).isNotNull)
            .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
            .observe(obs, count(lit(1)).as("n")))
        Replay.appendOneFile(
          counts.select(posexplode(array((0 until d).map(j =>
              graft.functions.CountMinSketch.hashIdxCol(j, col(keyCol), w)): _*))
              .as(Seq("j", "pos")), col("cnt"))
            .groupBy(col("j"), col("pos")).agg(sum(col("cnt")).as("cnt"))
            .select(lit(batchId).as("batch_id"), col("j"), col("pos"),
              col("cnt")),
          cntT)
        if (obs.get("n").asInstanceOf[Long] > 0) {
          Replay.appendOneFile(
            counts.orderBy(desc("cnt"), col(keyCol)).limit(topN)
              .select(lit(batchId).as("batch_id"), col(keyCol).as("key")),
            candT)
          spark.catalog.refreshTable(cntT)
          spark.catalog.refreshTable(candT)
          val buckets = spark.table(cntT).filter(col("batch_id") <= batchId)
            .dropDuplicates("batch_id", "j", "pos")
            .groupBy(col("j"), col("pos")).agg(sum(col("cnt")).as("cnt"))
          val cand = spark.table(candT).filter(col("batch_id") <= batchId)
            .select(col("key")).distinct()
          Replay.appendOneFile(
            cand.select(col("key"), posexplode(array((0 until d).map(j =>
                graft.functions.CountMinSketch.hashIdxCol(j, col("key"), w)): _*))
                .as(Seq("j", "pos")))
              .join(broadcast(buckets), Seq("j", "pos"), "left")
              .groupBy(col("key"))
              .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
              .select(lit(batchId).as("batch_id"), col("key"), col("est")),
            estT)
        }
      }
    }
  }

  /** One trigger's work, exposed for direct at-least-once testing (the
    * CorpusIngest.applyBatch convention). */
  def applyBatch(batch: DataFrame, batchId: Long, keyCol: String,
                 groupCol: String, tablePrefix: String,
                 knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val regsT = tablePrefix + "_hll_regs"
    val estT = tablePrefix + "_hll_est"
    Replay.once(spark, estT, "batch_id", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        // The batch row count rides the registers append as an
        // Observation metric — one job per trigger fewer than a
        // dedicated count() (guide §1.2: per-job constants dominate the
        // trigger wall). An empty batch appends a zero-row file (readers
        // collapse registers, so standing-state CONTENT is unchanged)
        // and still writes NO estimate/guard row, exactly as before.
        val obs = org.apache.spark.sql.Observation()
        val b = graft.core.CacheRegistry.persistTracked(
          batch.observe(obs, count(lit(1)).as("n")))
        Replay.appendOneFile(
          graft.functions.HyperLogLog.registers(b, keyCol, Seq(groupCol)), regsT)
        spark.catalog.refreshTable(regsT)
        val nNew = obs.get("n").asInstanceOf[Long]
        if (nNew > 0) {
          val merged = spark.table(regsT)
            .groupBy(col(groupCol), col("reg"))
            .agg(max(col("rho")).as("rho"))
          Replay.appendOneFile(
            graft.functions.HyperLogLog.estimate(merged, Seq(groupCol))
              .select(lit(batchId).as("batch_id"), col(groupCol), col("est"),
                lit(nNew).as("n_new")),
            estT)
        }
      }
    }
  }

  /**
   * Compact the HLL standing register table to its 64-rows-per-group
   * collapse — the maintenance pass a week-long monitor needs (the
   * append-only table grows 64×groups rows per trigger; the collapsed
   * form is 64×groups TOTAL). Replay stays correct because register
   * state is a pure max: max(compacted, replayed-dupes) = max(all
   * appends) — compaction commutes with every future merge, so no
   * batch provenance is needed or kept. Run between triggers (like any
   * OPTIMIZE); the estimate trajectory table is untouched.
   */
  def compactHll(spark: SparkSession, tablePrefix: String): Unit = {
    val regsT = tablePrefix + "_hll_regs"
    if (!spark.catalog.tableExists(regsT)) return
    val t = spark.table(regsT)
    val keys = t.columns.filterNot(_ == "rho") // (groupCols…, reg)
    replaceTable(spark, regsT,
      t.groupBy(keys.map(col): _*).agg(max(col("rho")).as("rho"))
        .select(t.columns.map(col): _*))
  }

  /**
   * Compact the Bloom position table: batches whose novelty rows have
   * COMMITTED (batch_id ≤ max batch in `_bloom_novel`) collapse to
   * their distinct positions under a single provenance tag = that max
   * committed id; later (possibly in-flight) batches pass through
   * untouched. The probe's `batch_id < b` argument survives: any
   * future or crash-replayed batch b is > maxCommitted, so it sees the
   * compacted rows exactly as it would have seen their constituents,
   * and an in-flight batch's own orphan positions keep their original
   * id and stay excluded from its replayed probe. Output: ≤ m rows for
   * the compacted span + untouched recents.
   */
  def compactBloom(spark: SparkSession, tablePrefix: String): Unit = {
    val posT = tablePrefix + "_bloom_pos"
    val novT = tablePrefix + "_bloom_novel"
    val maxC = Replay.lastIn(spark, novT, "batch_id")
    if (maxC < 0 || !spark.catalog.tableExists(posT)) return
    val pos = spark.table(posT)
    replaceTable(spark, posT, pos.filter(col("batch_id") <= maxC)
      .select("pos").distinct()
      .select(lit(maxC).as("batch_id"), col("pos"))
      .unionByName(pos.filter(col("batch_id") > maxC).select("batch_id", "pos")))
  }

  /**
   * Compact the CMS bucket + candidate tables: batches with a
   * COMMITTED estimate row (batch_id ≤ max batch in `_cms_est`)
   * collapse — buckets to one summed row per (j, pos) (after the
   * reader's own dropDuplicates, so crash-replay dupes inside the span
   * fold exactly once), candidates to their distinct keys — both under
   * the max committed id; later batches pass through. The reader
   * algebra survives: dedupe-then-sum over {compacted span} ∪
   * {untouched recents} equals dedupe-then-sum over the raw history
   * (sum is associative over the disjoint batch ranges), and a
   * replayed in-flight batch's `batch_id ≤ b` filter sees the
   * compacted rows iff it saw their constituents.
   */
  def compactCms(spark: SparkSession, tablePrefix: String): Unit = {
    val cntT = tablePrefix + "_cms_cnt"
    val candT = tablePrefix + "_cms_cand"
    val estT = tablePrefix + "_cms_est"
    val maxC = Replay.lastIn(spark, estT, "batch_id")
    if (maxC < 0 || !spark.catalog.tableExists(cntT)) return
    val cnt = spark.table(cntT)
    replaceTable(spark, cntT,
      cnt.filter(col("batch_id") <= maxC)
        .dropDuplicates("batch_id", "j", "pos")
        .groupBy(col("j"), col("pos")).agg(sum(col("cnt")).as("cnt"))
        .select(lit(maxC).as("batch_id"), col("j"), col("pos"), col("cnt"))
        .unionByName(cnt.filter(col("batch_id") > maxC)
          .select("batch_id", "j", "pos", "cnt")))
    if (spark.catalog.tableExists(candT)) {
      val cand = spark.table(candT)
      replaceTable(spark, candT,
        cand.filter(col("batch_id") <= maxC).select("key").distinct()
          .select(lit(maxC).as("batch_id"), col("key"))
          .unionByName(cand.filter(col("batch_id") > maxC)
            .select("batch_id", "key")))
    }
  }

  /**
   * Streaming QUANTILE monitor: every micro-batch folds its values into
   * a standing fixed-grid histogram (bucket = ⌊value/width⌋ per group)
   * and appends one quantile-trajectory row per group — "what are p50 /
   * p90 / p99 of X per source, continuously" without ever retaining the
   * values. The histogram is the production mergeable-quantile sketch
   * whose error model is the simplest possible: estimates are exact
   * bucket LOWER EDGES, so the error is bounded by `width` by
   * construction, and every estimate is pure integer arithmetic —
   * bit-replayable by any engine, unlike interpolating sketches
   * (t-digest/KLL) whose merge order changes the answer.
   *
   * Tables: `<prefix>_hist_cnt` (batch_id, group, bucket, cnt) carries
   * batch provenance; readers collapse with
   * dropDuplicates(batch_id, group, bucket) + sum — crash-replayed
   * appends are byte-identical and vanish in the dedup (the
   * [[cmsIngest]] count argument verbatim). `<prefix>_hist_q`
   * (batch_id, group, n, p50, p90, p99) is the replay guard, written
   * LAST (marks-write-last).
   *
   * Per-trigger cost: one batch-sized (group, bucket) aggregation —
   * ≤ groups × (domain/width) rows out of the shuffle — plus a collapse
   * of the standing table (same bound × triggers-since-compaction;
   * `compactEvery` keeps it ×2 amortized). State is O(groups ×
   * domain/width) forever — the quantile twin of the CMS frequency
   * monitor's O(d×w).
   */
  def histQuantileIngest(stream: DataFrame, valCol: String,
                         groupCol: String, tablePrefix: String,
                         width: Double,
                         checkpoint: Option[String] = None,
                         compactEvery: Int = 8): StreamingQuery =
    monitor(stream, checkpoint, compactEvery)(
      applyHistBatch(_, _, valCol, groupCol, tablePrefix, width, _))(
      compactHist(_, tablePrefix))

  /** One quantile-monitor trigger, exposed for at-least-once testing.
    *
    * The estimate rule is exact-integer: with per-group total `n` and
    * running bucket count `cum`, the q-percent quantile is the lower
    * edge of the first bucket where `cum·100 ≥ q·n` — the integer form
    * of `cum ≥ ⌈q·n/100⌉`, no division, no interpolation, no floats
    * until the final `bucket × width` edge. */
  def applyHistBatch(batch: DataFrame, batchId: Long, valCol: String,
                     groupCol: String, tablePrefix: String,
                     width: Double, knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val cntT = tablePrefix + "_hist_cnt"
    val qT = tablePrefix + "_hist_q"
    Replay.once(spark, qT, "batch_id", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        // bucket-row count rides the count append as an Observation (see
        // applyBatch); an empty batch appends a zero-row file — invisible
        // to the reader's dedupe+sum — and no quantile/guard row
        val obs = org.apache.spark.sql.Observation()
        val counts = graft.core.CacheRegistry.persistTracked(
          batch.filter(col(valCol).isNotNull)
            .groupBy(col(groupCol),
              floor(col(valCol) / width).cast("long").as("bucket"))
            .agg(count(lit(1)).as("cnt"))
            .observe(obs, count(lit(1)).as("n")))
        Replay.appendOneFile(
          counts.select(lit(batchId).as("batch_id"), col(groupCol),
            col("bucket"), col("cnt")),
          cntT)
        if (obs.get("n").asInstanceOf[Long] > 0) {
          spark.catalog.refreshTable(cntT)
          val collapsed = spark.table(cntT).filter(col("batch_id") <= batchId)
            .dropDuplicates("batch_id", groupCol, "bucket")
            .groupBy(col(groupCol), col("bucket"))
            .agg(sum(col("cnt")).as("cnt"))
          val wAll = org.apache.spark.sql.expressions.Window
            .partitionBy(col(groupCol))
          val wCum = wAll.orderBy(col("bucket"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, org.apache.spark.sql.expressions.Window
              .currentRow)
          val cum = collapsed
            .withColumn("cum", sum(col("cnt")).over(wCum))
            .withColumn("n", sum(col("cnt")).over(wAll))
          def qEdge(q: Int): org.apache.spark.sql.Column =
            min(when(col("cum") * 100 >= col("n") * q,
              col("bucket").cast("double") * width))
          Replay.appendOneFile(
            cum.groupBy(col(groupCol))
              .agg(max(col("n")).as("n"), qEdge(50).as("p50"),
                qEdge(90).as("p90"), qEdge(99).as("p99"))
              .select(lit(batchId).as("batch_id"), col(groupCol), col("n"),
                col("p50"), col("p90"), col("p99")),
            qT)
        }
      }
    }
  }

  /**
   * Streaming CUSUM shift monitor — the SEQUENTIAL member of the
   * streaming drift family ([[graft.streaming.DriftMonitor]] covers the
   * distributional PSI/KS side; CUSUM catches a mean shift that never
   * reshapes the histogram). State is the per-(group, day) SUFFICIENT
   * STATISTICS (integer micro-unit sum + count), so it is bounded by
   * calendar × groups, mergeable by addition, and replay-dedupable —
   * the values themselves are never retained. Every trigger re-derives
   * the full CUSUM trajectory from the collapsed dailies via the
   * [[graft.ops.Windows.cusum]] prefix-sum unrolling (a days-sized
   * window pass, never a scan of the raw feed) and appends one
   * (batch_id, group, n_days, max_up, max_dn) row.
   *
   * Tables: `<prefix>_cusum_daily` (batch_id, group, day, s_micro, c)
   * carries batch provenance; readers collapse with
   * dropDuplicates(batch_id, group, day) + sum. The micro-unit sum is
   * an INTEGER (⌊value·10⁶⌋ summed as longs), so replayed appends are
   * byte-identical regardless of shuffle order — the [[cmsIngest]]
   * count argument holds without any float caveat.
   * `<prefix>_cusum_traj` is the replay guard, written LAST.
   */
  def cusumIngest(stream: DataFrame, valCol: String, dayCol: String,
                  groupCol: String, tablePrefix: String,
                  slack: Double = 0d,
                  checkpoint: Option[String] = None,
                  compactEvery: Int = 8): StreamingQuery =
    monitor(stream, checkpoint, compactEvery)(
      applyCusumBatch(_, _, valCol, dayCol, groupCol, tablePrefix, slack, _))(
      compactCusum(_, tablePrefix))

  /** One CUSUM-monitor trigger, exposed for at-least-once testing. */
  def applyCusumBatch(batch: DataFrame, batchId: Long, valCol: String,
                      dayCol: String, groupCol: String,
                      tablePrefix: String, slack: Double,
                      knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val dailyT = tablePrefix + "_cusum_daily"
    val trajT = tablePrefix + "_cusum_traj"
    Replay.once(spark, trajT, "batch_id", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        // daily-row count rides the daily append as an Observation (see
        // applyBatch); an empty batch appends a zero-row file — invisible
        // to the reader's dedupe+sum — and no trajectory/guard row
        val obs = org.apache.spark.sql.Observation()
        val counts = graft.core.CacheRegistry.persistTracked(
          batch.filter(col(valCol).isNotNull)
            .groupBy(col(groupCol), col(dayCol).as("day"))
            .agg(sum(floor(col(valCol) * 1e6).cast("long")).as("s_micro"),
              count(lit(1)).as("c"))
            .observe(obs, count(lit(1)).as("n")))
        Replay.appendOneFile(
          counts.select(lit(batchId).as("batch_id"), col(groupCol),
            col("day"), col("s_micro"), col("c")),
          dailyT)
        if (obs.get("n").asInstanceOf[Long] > 0) {
          spark.catalog.refreshTable(dailyT)
          val daily = spark.table(dailyT).filter(col("batch_id") <= batchId)
            .dropDuplicates("batch_id", groupCol, "day")
            .groupBy(col(groupCol), col("day"))
            .agg(sum(col("s_micro")).as("s"), sum(col("c")).as("c"))
            .withColumn("x", col("s").cast("double") / lit(1e6) / col("c"))
          val mu = avg(col("x")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol)))
          val scored = graft.ops.Windows.cusum(
            daily.withColumn("mu", mu), Seq(groupCol), "day", "x",
            mean = col("mu"), slack = lit(slack))
          Replay.appendOneFile(
            scored.groupBy(col(groupCol))
              .agg(count(lit(1)).as("n_days"),
                round(max(col("cusum_up")) + lit(1e-9), 6).as("max_up"),
                round(max(col("cusum_down")) + lit(1e-9), 6).as("max_dn"))
              .select(lit(batchId).as("batch_id"), col(groupCol),
                col("n_days"), col("max_up"), col("max_dn")),
            trajT)
        }
      }
    }
  }

  /** Compact the CUSUM daily-statistics table — the [[compactHist]]
    * fold with (s_micro, c) sums in place of the single count. Same
    * replay proof: only batches whose guard rows exist are folded. */
  def compactCusum(spark: SparkSession, tablePrefix: String): Unit = {
    val dailyT = tablePrefix + "_cusum_daily"
    val trajT = tablePrefix + "_cusum_traj"
    val maxC = Replay.lastIn(spark, trajT, "batch_id")
    if (maxC < 0 || !spark.catalog.tableExists(dailyT)) return
    val t = spark.table(dailyT)
    val groupCol = t.columns
      .filterNot(Set("batch_id", "day", "s_micro", "c")).head
    replaceTable(spark, dailyT,
      t.filter(col("batch_id") <= maxC)
        .dropDuplicates("batch_id", groupCol, "day")
        .groupBy(col(groupCol), col("day"))
        .agg(sum(col("s_micro")).as("s_micro"), sum(col("c")).as("c"))
        .select(lit(maxC).as("batch_id"), col(groupCol), col("day"),
          col("s_micro"), col("c"))
        .unionByName(t.filter(col("batch_id") > maxC)
          .select("batch_id", groupCol, "day", "s_micro", "c")))
  }

  /**
   * Compact the histogram count table: rows with batch_id ≤ the max
   * COMMITTED quantile row collapse to one summed row per (group,
   * bucket) tagged with that max batch_id; uncommitted later appends
   * pass through untouched. Replay stays correct for the same reason as
   * [[compactCms]]: maxCommitted is the guard table's own watermark
   * ([[Replay.lastIn]]), so every folded batch is at or below it and
   * [[Replay.once]] skips its replay before it can append against the
   * merged row.
   */
  def compactHist(spark: SparkSession, tablePrefix: String): Unit = {
    val cntT = tablePrefix + "_hist_cnt"
    val qT = tablePrefix + "_hist_q"
    val maxC = Replay.lastIn(spark, qT, "batch_id")
    if (maxC < 0 || !spark.catalog.tableExists(cntT)) return
    val cnt = spark.table(cntT)
    val groupCol = cnt.columns
      .filterNot(Set("batch_id", "bucket", "cnt")).head
    replaceTable(spark, cntT,
      cnt.filter(col("batch_id") <= maxC)
        .dropDuplicates("batch_id", groupCol, "bucket")
        .groupBy(col(groupCol), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
        .select(lit(maxC).as("batch_id"), col(groupCol), col("bucket"),
          col("cnt"))
        .unionByName(cnt.filter(col("batch_id") > maxC)
          .select("batch_id", groupCol, "bucket", "cnt")))
  }
}
