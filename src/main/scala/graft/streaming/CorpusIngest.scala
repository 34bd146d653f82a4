package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming corpus ingest with exact dedup — the streaming twin of
 * [[graft.ext.Dedup.incremental]]: documents arrive as micro-batches,
 * each batch keeps one row per content fingerprint (lowest id within
 * the batch), drops rows whose fingerprint the accepted table already
 * holds, and APPENDS the survivors. First arrival wins across batches;
 * within a batch the lowest id wins — so an id-ordered feed converges
 * to exactly the batch dedup's min-id-per-fingerprint survivor set.
 *
 * Exactly-once: every appended row carries its batch id in
 * `__last_batch`, the guard column of [[Replay]] — a replayed id skips.
 *
 * Scale shape: per batch, ONE hash aggregation on the 64-bit
 * fingerprint (map-side combined) + ONE anti-join against the accepted
 * table's fingerprint column — O(batch) work against O(1)-per-doc
 * standing state, the property that lets the ingest run forever. On a
 * transactional table format the anti-join + append collapses into
 * MERGE WHEN NOT MATCHED.
 */
object CorpusIngest {

  /** The per-trigger dedup plan, exposed for plan-shape pinning: dedup
    * within the batch (lowest id per fingerprint — one map-side-combined
    * hash aggregation), then anti-join away fingerprints the accepted
    * table already holds. With the accepted table bucketed on `__fp`,
    * the corpus side of the anti-join reads in place — no Exchange. */
  def batchSurvivors(batch: Dataset[Row], idCol: String, textCol: String,
                     table: String): DataFrame = {
    val spark = batch.sparkSession
    val best = batch
      .withColumn("__fp", graft.ext.TextOps.fingerprint(col(textCol)))
      .groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
    if (!spark.catalog.tableExists(table)) best
    else best.join(spark.table(table).select(col("__fp")),
      Seq("__fp"), "left_anti")
  }

  /**
   * Apply one micro-batch of documents to the accepted table: dedup
   * within the batch (lowest id per fingerprint), anti-join away
   * fingerprints the table already holds, append survivors. A replayed
   * batch id (foreachBatch is at-least-once) is a no-op. Exposed
   * separately from the stream wrapper so the replay guard and
   * cross-batch dedup are directly testable.
   *
   * Returns the new replay watermark; `knownLast` is the watermark
   * [[Replay.stream]] holds (a direct call reads it from the table).
   *
   * The accepted table is BUCKETED on `__fp`
   * ([[graft.core.Materialize.bucketTable]]/[[graft.core.Materialize.bucketAppend]]),
   * so the per-trigger anti-join plans with no Exchange on the corpus
   * side — the batch (already hash-partitioned by its dedup groupBy)
   * aligns to the bucket count and the standing fingerprints are read
   * in place. Same shape as the near-dup band index: per-trigger
   * shuffle is O(batch), never O(corpus).
   */
  def applyBatch(batch: Dataset[Row], batchId: Long, idCol: String,
                 textCol: String, table: String,
                 knownLast: Option[Long] = None): Long = {
    // foreachBatch hands frames bound to the stream's CLONED session;
    // catalog metadata is shared but the table-relation cache (with its
    // file-listing snapshot) is per-session. Read and write through the
    // batch's own session and refresh after every append, or each
    // batch's anti-join sees only the state from before the stream
    // started and the dedup silently degrades to per-batch.
    val spark = batch.sparkSession
    Replay.once(spark, table, "__last_batch", batchId, knownLast) { _ =>
      val exists = spark.catalog.tableExists(table)
      val out = batchSurvivors(batch, idCol, textCol, table)
        .withColumn("__last_batch", lit(batchId))
      if (!exists)
        graft.core.Materialize.bucketTable(spark, table, out,
          buckets = 8, bucketCols = Seq("__fp"))
      else
        graft.core.Materialize.bucketAppend(spark, table, out,
          buckets = 8, bucketCols = Seq("__fp"))
      spark.catalog.refreshTable(table)
    }
  }

  def dedupIngest(docs: DataFrame, idCol: String, textCol: String,
                  table: String,
                  checkpoint: Option[String] = None): StreamingQuery =
    Replay.stream(docs, checkpoint)(
      applyBatch(_, _, idCol, textCol, table, _))

  /**
   * Apply one micro-batch of the NEAR-dup ingest: dedup the batch
   * against the accepted corpus's persisted LSH index
   * ([[graft.ext.Dedup.incrementalNearDupIndexed]] — banded candidate
   * join + exact-Jaccard verification + within-batch lower-id-dominator
   * rule), then GROW the index in place with the survivors' band and
   * shingle rows ([[graft.core.Materialize.bucketAppend]] keeps the
   * bucketed exchange-free join property). Three tables under `prefix`:
   * `_docs (id, __last_batch)`, `_bands`, `_shingles`.
   *
   * Ordering makes replay safe: the `_docs` write — whose `__last_batch`
   * drives the replay guard — happens LAST, so a crash between the index
   * appends and the docs write replays the whole step. Replay of a
   * partially-applied batch is exact, not just harmless: the batch is
   * id-anti-joined against the accepted docs (a doc id never ingests
   * twice), the candidate join excludes self-id pairs (so survivors
   * whose index rows already landed are not dropped against themselves
   * — survivors are pairwise non-similar by the dominator rule, so no
   * OTHER index row of the replayed batch can drop them either), and
   * re-appended index rows are duplicates the candidate `.distinct()`
   * absorbs.
   */
  def applyNearDupBatch(batch: Dataset[Row], batchId: Long, idCol: String,
                        textCol: String, prefix: String,
                        threshold: Double = 0.5, shingleK: Int = 3,
                        numHashes: Int = 64, bands: Int = 32,
                        knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val docsT = s"${prefix}_docs"
    val bandsT = s"${prefix}_bands"
    val shinglesT = s"${prefix}_shingles"
    // SCOPED release: everything this trigger computes is materialized
    // by the end of the block, so the operator-internal persist
    // barriers (shingle/band/verdict frames) are released — without a
    // release a continuous stream accretes ~4 cached frames per
    // trigger. Scoped, not releaseAll(): a library call must not
    // destroy caller-owned tracked caches/broadcasts registered before
    // it ran (a destroyed broadcast hard-fails the caller's later
    // actions; see CacheRegistry.scoped).
    Replay.once(spark, docsT, "__last_batch", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        if (!spark.catalog.tableExists(bandsT)) {
          // first batch: seed EMPTY index tables with the right schema so
          // every batch takes the same dedup-then-append path
          val (b0, s0) = graft.ext.Dedup.nearDupIndex(batch.limit(0), idCol,
            textCol, shingleK, numHashes, bands)
          graft.core.Materialize.bucketTable(spark, bandsT, b0,
            buckets = 8, bucketCols = Seq("band", "band_hash"))
          graft.core.Materialize.bucketTable(spark, shinglesT, s0,
            buckets = 8, bucketCols = Seq(idCol))
        }
        // exactly-once per id: docs already accepted (possible only when a
        // replayed feed re-presents an id) never re-enter the pipeline
        val batchNew =
          if (!spark.catalog.tableExists(docsT)) batch.toDF()
          else batch.join(spark.table(docsT).select(col(idCol)),
            Seq(idCol), "left_anti")
        // EAGER lineage cut before the appends: the survivor plan reads
        // the very tables the appends mutate (same hazard documented at
        // ext_dedup_index_growth), so materialize it to rows first. The
        // WithBatchIndex variant hands back the batch's own band/shingle
        // frames — the very tables the dedup banded and verified with —
        // so growing the index is a survivor-id semi-join over work
        // already done, not a second full MinHash pass over the survivor
        // text per trigger.
        val (survPlan, batchBands, batchShingles) =
          graft.ext.Dedup.incrementalNearDupWithBatchIndex(batchNew,
            spark.table(bandsT), spark.table(shinglesT), idCol, textCol,
            threshold, shingleK, numHashes, bands)
        val surv = survPlan.localCheckpoint()
        val survIds = surv.select(col(idCol))
        // safe against cache eviction: these plans read only the batch
        // source and the accepted-docs table, neither of which mutates
        // before the docs write below
        val bN = batchBands.join(survIds, Seq(idCol), "left_semi")
        val sN = batchShingles.join(survIds, Seq(idCol), "left_semi")
        // the two index appends are independent (both semi-join the
        // checkpointed survivors) and target different tables — run them
        // as concurrent jobs. Only the DOCS write below must stay last
        // (it carries the replay watermark); the index appends may land
        // in any order, replay absorbs partial appends (scaladoc above).
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fb = Future { graft.core.Materialize.bucketAppend(spark, bandsT, bN,
          buckets = 8, bucketCols = Seq("band", "band_hash")) }
        val fs = Future { graft.core.Materialize.bucketAppend(spark, shinglesT, sN,
          buckets = 8, bucketCols = Seq(idCol)) }
        Await.result(fb, Duration.Inf)
        Await.result(fs, Duration.Inf)
        spark.catalog.refreshTable(bandsT)
        spark.catalog.refreshTable(shinglesT)
        surv.select(col(idCol)).withColumn("__last_batch", lit(batchId))
          .write.mode("append").saveAsTable(docsT)
        spark.catalog.refreshTable(docsT)
      }
    }
  }

  /**
   * Streaming near-dup corpus ingest: the streaming twin of the daily
   * index-growth cycle (`ext_dedup_index_growth`). Each micro-batch is
   * near-dup-deduped against everything accepted so far and the
   * persisted LSH index grows by exactly the survivors — the shape a
   * continuous 100 TB crawl ingest runs: O(batch × colliding buckets)
   * work per trigger against O(bands)-bytes-per-doc standing state,
   * never a corpus-wide rescan.
   */
  def nearDupIngest(docs: DataFrame, idCol: String, textCol: String,
                    prefix: String, threshold: Double = 0.5,
                    shingleK: Int = 3, numHashes: Int = 64,
                    bands: Int = 32,
                    checkpoint: Option[String] = None): StreamingQuery =
    Replay.stream(docs, checkpoint)((batch, batchId, last) =>
      applyNearDupBatch(batch, batchId, idCol, textCol,
        prefix, threshold, shingleK, numHashes, bands, last))

  /**
   * Streaming curation ingest — the daily curation chain
   * (`ext_curation_incremental`: Gopher gates → incremental near-dup →
   * split downstream) as a continuous stream: each micro-batch is
   * quality-gated FIRST ([[graft.ext.TextOps.gopherGate]] — only docs
   * worth deduplicating pay for banding), then near-dup-ingested
   * against the accepted index, which grows by the gated survivors.
   * Same replay guard and table layout as [[nearDupIngest]].
   */
  def curationIngest(docs: DataFrame, idCol: String, textCol: String,
                     prefix: String, threshold: Double = 0.5,
                     shingleK: Int = 3, numHashes: Int = 64,
                     bands: Int = 32,
                     checkpoint: Option[String] = None): StreamingQuery =
    Replay.stream(docs, checkpoint) { (batch, batchId, last) =>
      // persist the gated batch for the trigger: the survivor plan and
      // the batch-index frames both read it, and without a barrier the
      // explode + double-agg gate chain recomputes per consumer. The
      // scope releases it once the trigger's writes are materialized.
      graft.core.CacheRegistry.scoped {
        val gated = graft.core.CacheRegistry.persistTracked(
          graft.ext.TextOps.gopherGate(batch.toDF(), idCol, textCol))
        applyNearDupBatch(gated, batchId, idCol, textCol, prefix,
          threshold, shingleK, numHashes, bands, last)
      }
    }
}
