package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Classifier

/**
 * Streaming quality-classifier training — online continuation of
 * [[Classifier.perceptronTrain]]: each micro-batch of labeled feature
 * rows continues the batch perceptron from the carried weights for a
 * fixed round budget, and the weight history appends per batch. The
 * trajectory stays EXACT INTEGER arithmetic, so the oracle unrolls
 * batches × rounds with no rounding convention at all — the strongest
 * replayability in the streaming-ML family.
 *
 * Scale shape: per batch round, the weights ride the scan as a literal
 * (no join) and the update aggregation yields ≤ numBuckets + 1 rows —
 * per-trigger work is rounds × O(batch), standing state is numBuckets+1
 * integers per batch (kilobytes, history retained for audits). The
 * engine's within-batch early stop is invisible to the fixed-round
 * oracle: a converged batch contributes zero updates for the remaining
 * rounds.
 *
 * Replay: marks-write-last watermark; a crash-replayed batch recomputes
 * from the INTACT previous weights and re-appends bit-identical rows,
 * absorbed by the distinct-read — the [[SearchIngest]] argument with
 * integer state.
 */
object ClassifierIngest {

  /** Weight vector + bias at watermark `at` from the `_weights` table
    * (bucket −1 = bias), duplicate-absorbing. */
  def weightsAt(spark: org.apache.spark.sql.SparkSession, prefix: String,
                at: Long, numBuckets: Int): (Array[Long], Long) = {
    val rows = spark.table(s"${prefix}_weights")
      .filter(col("__batch") === at).distinct()
      .select(col("bucket"), col("weight"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Array.tabulate(numBuckets)(b => rows.getOrElse(b.toLong, 0L))
    (w, rows.getOrElse(-1L, 0L))
  }

  /** Apply one labeled micro-batch: continue training from the carried
    * weights for `roundsPerBatch` rounds, append the new weight rows,
    * mark (LAST). Returns the new replay watermark. */
  def applyTrainBatch(batch: Dataset[Row], batchId: Long,
                      bucketsCol: String, labelCol: String, prefix: String,
                      numBuckets: Int, roundsPerBatch: Int,
                      knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val weightsT = s"${prefix}_weights"
    val marksT = s"${prefix}_marks"
    Replay.once(spark, marksT, "__last_batch", batchId, knownLast) { last =>
      // Seed iff no batch has been applied (watermark −1), NOT on
      // table existence — in the batch-0 crash window (weight rows
      // landed, marks write lost) the table exists but the chain must
      // restart from zeros; weightsAt(-1) would coincidentally return
      // zeros, but the intent belongs in the guard, not an accident.
      val init =
        if (last < 0) None
        else Some(weightsAt(spark, prefix, last, numBuckets))
      val model = Classifier.perceptronTrain(batch.toDF(), bucketsCol,
        labelCol, numBuckets, maxRounds = roundsPerBatch, init = init)
      model.weightsFrame(spark).withColumn("__batch", lit(batchId))
        .write.mode("append").saveAsTable(weightsT)
      spark.catalog.refreshTable(weightsT)
      import spark.implicits._
      Seq(batchId).toDF("__last_batch")
        .write.mode("append").saveAsTable(marksT)
      spark.catalog.refreshTable(marksT)
    }
  }

  def classifierIngest(feats: DataFrame, bucketsCol: String,
                       labelCol: String, prefix: String, numBuckets: Int,
                       roundsPerBatch: Int,
                       checkpoint: Option[String] = None): StreamingQuery =
    Replay.stream(feats, checkpoint)((batch, batchId, last) =>
      applyTrainBatch(batch, batchId, bucketsCol, labelCol, prefix,
        numBuckets, roundsPerBatch, last))
}
