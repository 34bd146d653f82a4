package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming distribution-drift monitor: every micro-batch is scored
 * against a FIXED reference distribution with BOTH
 * [[graft.ext.Corpus.psiDrift]] (sum of per-bin terms — localizes where
 * mass moved) and [[graft.ext.Corpus.ksDrift]] (max CDF gap — the
 * statistic classical drift tests threshold), and one
 * (batch_id, psi, ks, n_rows) row is appended to a standing monitor
 * table — the production posture where an ingest feed is continuously
 * audited against the last release and an alert fires when PSI crosses
 * the 0.25 line (or KS its test-specific critical value). The reference
 * here is deliberately static (drift is measured against a pinned
 * baseline, not a moving average); [[psiRebaselineIngest]] is the
 * scheduled-re-baseline variant (trailing-window reference, swapped
 * every N triggers from committed state) for monitors that outlive any
 * single release baseline.
 *
 * Per-trigger work: the REFERENCE is pre-binned once at stream start
 * (a pinned, persisted (bin, count) frame — the baseline is never
 * re-scanned), and each batch collapses to its own bin counts in ONE
 * pass (the per-trigger bin frame is cached scoped, so psi and ks both
 * read it without a second batch scan); all drift arithmetic after that
 * is bins-sized regardless of baseline size or monitor age. The
 * appended row is O(1) and is the [[Replay]] guard (`batch_id`): a
 * crash-replayed trigger is at or below the watermark and appends
 * nothing.
 */
object DriftMonitor {

  /**
   * Re-baselining drift monitor (r11): like [[psiIngest]] but the
   * reference ROLLS — every `rebaselineEvery` (= R) triggers the
   * baseline is replaced by the bin counts of the just-completed window,
   * the trailing-window posture long-lived monitors actually run (drift
   * scored against the last accepted window, not a forever-pinned
   * snapshot that every seasonal shift trips). Batch b (window w = b/R)
   * scores against: w = 0 → the pinned initial reference; w ≥ 1 → the
   * summed bins of window w−1's batches (ids R(w−1) … Rw−1).
   *
   * The rolling reference is DERIVED FROM COMMITTED STATE, never from
   * operator memory: each trigger appends its (batch_id, bin, n) counts
   * to a standing `<prefix>_psi_bins` table FIRST (bounded — bins per
   * batch; a crash-replayed trigger appends bit-identical rows that
   * collapse in the reader's dropDuplicates, the CMS-counts idempotence
   * argument), and the scored (batch_id, ref_window, psi, ks, n_rows)
   * row is written LAST as the replay guard. A replayed trigger
   * therefore recomputes against EXACTLY the bins its first attempt saw,
   * and a restart resumes with the same rolling reference — the
   * trajectory is deterministic and chunk-by-chunk oracle-replayable
   * across the swap. `ref_window` records which reference scored the
   * row (−1 = pinned initial, w−1 = that window's bins), so an alert
   * reader can tell a genuine drift spike from a re-baseline step.
   *
   * Per-trigger work beyond [[psiIngest]]: one bins-sized append plus a
   * provenance-filtered read of R batches' bins — still O(bins), never
   * O(corpus) or O(monitor age).
   */
  def psiRebaselineIngest(stream: DataFrame, ref: DataFrame,
                          valueCol: String, binWidth: Double,
                          tablePrefix: String, rebaselineEvery: Int,
                          checkpoint: Option[String] = None): StreamingQuery = {
    require(rebaselineEvery > 0, "rebaselineEvery must be positive")
    val refBins = graft.core.CacheRegistry.persistTracked(
      graft.ext.Corpus.binCounts(ref, valueCol, binWidth))
    refBins.count() // pin the initial baseline before the first trigger
    Replay.stream(stream, checkpoint)((batch, batchId, last) =>
      applyPsiRebaselineBatch(batch.toDF(), batchId, refBins, valueCol,
        binWidth, tablePrefix, rebaselineEvery, last))
  }

  /** One re-baselining trigger, exposed for direct at-least-once
    * testing (the CorpusIngest.applyBatch convention). `refBins` is the
    * pinned initial (bin, n) reference. */
  def applyPsiRebaselineBatch(batch: DataFrame, batchId: Long,
                              refBins: DataFrame, valueCol: String,
                              binWidth: Double, tablePrefix: String,
                              rebaselineEvery: Int,
                              knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val table = tablePrefix + "_psi"
    val binsT = tablePrefix + "_psi_bins"
    Replay.once(spark, table, "batch_id", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        // bin-row count rides the bins append as an Observation — one
        // job per trigger fewer than a dedicated count(); an empty batch
        // appends a zero-row bins file (invisible to the reference
        // reader's dedupe+sum) and still writes NO scored/guard row
        val obs = org.apache.spark.sql.Observation()
        val bb = graft.core.CacheRegistry.persistTracked(
          graft.ext.Corpus.binCounts(batch, valueCol, binWidth)
            .observe(obs, count(lit(1)).as("n")))
        // bins FIRST (replay-idempotent under the reader's dedupe),
        // scored row LAST (the guard)
        bb.select(lit(batchId).as("batch_id"), col("bin"), col("n"))
          .coalesce(1) // bounded: bins per batch
          .write.mode("append").format("parquet").saveAsTable(binsT)
        spark.catalog.refreshTable(binsT)
        if (obs.get("n").asInstanceOf[Long] > 0) {
          val w = batchId / rebaselineEvery
          val refW =
            if (w == 0) refBins
            else spark.table(binsT)
              .filter(col("batch_id") >= (w - 1) * rebaselineEvery &&
                col("batch_id") < w * rebaselineEvery)
              .dropDuplicates("batch_id", "bin")
              .groupBy(col("bin")).agg(sum(col("n")).as("n"))
          val psiRow = graft.ext.Corpus.psiDriftFromBins(refW, bb)
            .agg(round(sum(col("psi_term")) + lit(1e-9), 6).as("psi"),
              sum(col("n_new")).as("n_rows"))
          val ksRow = graft.ext.Corpus.ksDriftFromBins(refW, bb)
            .agg(max(col("gap")).as("ks"))
          psiRow.crossJoin(ksRow)
            .select(lit(batchId).as("batch_id"),
              lit(if (w == 0) -1L else w - 1).as("ref_window"),
              col("psi"), col("ks"), col("n_rows"))
            .write.mode("append").format("parquet").saveAsTable(table)
        }
      }
    }
  }

  def psiIngest(stream: DataFrame, ref: DataFrame, valueCol: String,
                binWidth: Double, tablePrefix: String,
                checkpoint: Option[String] = None): StreamingQuery = {
    val table = tablePrefix + "_psi"
    val refBins = graft.core.CacheRegistry.persistTracked(
      graft.ext.Corpus.binCounts(ref, valueCol, binWidth))
    refBins.count() // pin the baseline before the first trigger
    Replay.stream(stream, checkpoint) { (batch, batchId, known) =>
      Replay.once(batch.sparkSession, table, "batch_id", batchId, known) { _ =>
        graft.core.CacheRegistry.scoped {
          val bb = graft.core.CacheRegistry.persistTracked(
            graft.ext.Corpus.binCounts(batch.toDF(), valueCol, binWidth))
          val psiRow = graft.ext.Corpus.psiDriftFromBins(refBins, bb)
            .agg(round(sum(col("psi_term")) + lit(1e-9), 6).as("psi"),
              sum(col("n_new")).as("n_rows"))
          val ksRow = graft.ext.Corpus.ksDriftFromBins(refBins, bb)
            .agg(max(col("gap")).as("ks"))
          val scored = psiRow.crossJoin(ksRow)
            .select(lit(batchId).as("batch_id"), col("psi"), col("ks"),
              col("n_rows"))
            .filter(col("n_rows") > 0) // empty replay/trigger: no row
          scored.write.mode("append").format("parquet").saveAsTable(table)
        }
      }
    }
  }
}
