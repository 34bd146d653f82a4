package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming MULTIMODAL ingest — the media member of the ingest family:
 * binary payload rows arrive as micro-batches, each batch runs the
 * metadata/feature extraction ([[graft.ext.Multimodal]]) batch-locally
 * and APPENDS the typed metadata rows to the standing feature table —
 * payloads themselves are never re-read once extracted, which is the
 * entire economics of a media pipeline (metadata is bytes, payloads are
 * the 100 TB).
 *
 * Extraction is a pure per-row function, so the ingest needs no
 * standing-state interaction at all: per-trigger work is O(batch), and
 * replay safety is the [[SearchIngest]] argument verbatim — the marks
 * row (written LAST) is the watermark, replayed metadata rows are
 * bit-exact duplicates, and [[dedupedMeta]] absorbs them with a
 * media_id-keyed aggregation.
 */
object MediaIngest {

  /** Replay-duplicate-absorbing read of the grown metadata table. */
  def dedupedMeta(meta: DataFrame): DataFrame = meta
    .groupBy("media_id")
    .agg(max(col("media_type")).as("media_type"),
      max(col("n_bytes")).as("n_bytes"))

  /** Apply one micro-batch: extract metadata, append, mark (LAST). */
  def applyMediaBatch(batch: Dataset[Row], batchId: Long, idCol: String,
                      payloadCol: String, mediaType:
                      org.apache.spark.sql.Column, prefix: String,
                      knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val metaT = s"${prefix}_meta"
    val marksT = s"${prefix}_marks"
    Replay.once(spark, marksT, "__last_batch", batchId, knownLast) { _ =>
      graft.ext.Multimodal.toMediaFrame(
          batch.toDF(), idCol, payloadCol, mediaType)
        .select(col("media_id"), col("media_type"),
          col("meta.n_bytes").as("n_bytes"))
        .write.mode("append").saveAsTable(metaT)
      spark.catalog.refreshTable(metaT)
      import spark.implicits._
      Seq(batchId).toDF("__last_batch")
        .write.mode("append").saveAsTable(marksT)
      spark.catalog.refreshTable(marksT)
    }
  }

  def mediaIngest(rows: DataFrame, idCol: String, payloadCol: String,
                  mediaType: org.apache.spark.sql.Column, prefix: String,
                  checkpoint: Option[String] = None): StreamingQuery =
    Replay.stream(rows, checkpoint)((batch, batchId, last) =>
      applyMediaBatch(batch, batchId, idCol, payloadCol, mediaType,
        prefix, last))
}
