package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * The replay guard every ingest in `graft.streaming` shares.
 *
 * foreachBatch is at-least-once: a crash between an ingest's table
 * commit and the stream's offset commit re-runs the same batch id, and
 * blind appends or folds are not idempotent. So each ingest stamps the
 * id of every batch it applies into a GUARD TABLE (its own id column:
 * `__last_batch` or `batch_id`), and a batch is applied iff its id is
 * above that table's max — the committed watermark.
 *
 * The watermark is read from the table ONCE per stream start and then
 * held in memory by [[stream]]: within a run foreachBatch hands out
 * strictly growing ids, so the value cannot change behind the sink's
 * back and no trigger pays a guard-table job. A restart from checkpoint
 * re-seeds from the table, which skips exactly the committed prefix. A
 * direct caller of an ingest's `apply*` (tests, probes, a job that
 * schedules its own batches) passes no watermark and pays one
 * [[lastIn]] read per call, or threads the previous call's return value
 * as the stream does.
 *
 * What stays per ingest, in its scaladoc: which write lands LAST (and so
 * carries the guard id; it goes through [[appendOneFile]]), and why the
 * rows a replay re-appends before that write are absorbed by the
 * readers.
 */
object Replay {

  /** The committed watermark of a guard table: max of `idCol`, −1 when
    * the table is absent or empty. */
  def lastIn(spark: SparkSession, table: String, idCol: String): Long =
    if (!spark.catalog.tableExists(table)) -1L
    else spark.table(table)
      .agg(coalesce(max(col(idCol)), lit(-1L))).head().getLong(0)

  /** Append `df` to `table` as ONE file — the write every guard table
    * takes. Under the v2 committer ([[graft.core.GraftSession]]) each
    * task's file is published by its own rename at task commit, so a
    * multi-file append that dies mid-job can leave part of a batch — and
    * a guard table holding part of batch b reads b as applied
    * ([[lastIn]]), so the rest is never written. One file is published
    * by one rename: a crash leaves all of the batch or none of it. Every
    * append through here is batch-sized or smaller (guard ids, sketch
    * state, per-group estimates), so one task writes it. */
  def appendOneFile(df: DataFrame, table: String): Unit =
    df.coalesce(1).write.mode("append").format("parquet").saveAsTable(table)

  /** Apply batch `batchId` at most once: `step(last)` runs iff `batchId`
    * is above the watermark `last` — `known` when the caller holds it,
    * else read from `table`'s `idCol`. `last` is handed to the step for
    * ingests that continue from the state stored at it. Returns the new
    * watermark. */
  def once(spark: SparkSession, table: String, idCol: String, batchId: Long,
           known: Option[Long])(step: Long => Unit): Long = {
    val last = known.getOrElse(lastIn(spark, table, idCol))
    if (batchId > last) { step(last); batchId } else last
  }

  /** The foreachBatch sink of every ingest: `apply` receives (batch,
    * batchId, watermark held so far — None on the first trigger of a
    * run) and returns the new watermark, which is held in memory for the
    * next trigger. */
  def stream(rows: DataFrame, checkpoint: Option[String])(
      apply: (Dataset[Row], Long, Option[Long]) => Long): StreamingQuery = {
    val watermark = new AtomicReference[Option[Long]](None)
    val w = rows.writeStream
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        watermark.set(Some(apply(batch, batchId, watermark.get())))
      }.start()
  }
}
