package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming BM25 postings-index ingest — the search-index member of the
 * ingest family: documents arrive as micro-batches and the persisted
 * inverted index ([[graft.ext.Retrieval.buildBm25Index]]'s layout)
 * GROWS by each batch's postings. Postings are per-(doc, term) facts
 * computed entirely within the batch (tc is a batch-local count, dl a
 * batch-local window — no cross-doc state), so growth is a pure
 * bucketed APPEND: per-trigger work is O(batch), the standing index is
 * never rescanned, and the term-bucketed layout keeps every later
 * term-keyed consumer exchange-free.
 *
 * Corpus stats are kept PER BATCH in a `_stats` side table (n_docs and
 * n_tokens are batch-additive); the query side sums the tiny stats
 * table instead of re-aggregating the corpus.
 *
 * Replay (foreachBatch is at-least-once): the `_stats` write carries
 * the `__last_batch` watermark and happens LAST. A replayed batch
 * re-appends postings rows that are EXACT duplicates (postings are a
 * deterministic function of the doc), and [[dedupedPostings]] absorbs
 * them with a (term, doc_id) max-aggregation that the term-bucketed
 * layout plans WITHOUT an exchange (HashPartitioning(term) satisfies
 * the grouping's clustered distribution); the stats row itself lands
 * at most once because its write IS the watermark.
 */
object SearchIngest {

  /** Batch postings: (doc_id, term, tc, dl) — [[graft.ext.Retrieval]]'s
    * tokenization, computed batch-locally. */
  private def postingsOf(batch: DataFrame, idCol: String,
                         textCol: String): DataFrame = batch
    .select(col(idCol).as("doc_id"),
      explode(graft.ext.TextOps.tokens(lower(col(textCol)))).as("term"))
    .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
    .withColumn("dl", sum("tc").over(Window.partitionBy("doc_id")))
    .select(col("term"), col("doc_id"), col("tc"), col("dl"))

  /** The replay-duplicate-absorbing read of a grown postings table:
    * exact-duplicate rows collapse via max (they agree on every field),
    * planned exchange-free over the term-bucketed layout. */
  def dedupedPostings(postings: DataFrame): DataFrame = postings
    .groupBy("term", "doc_id")
    .agg(max(col("tc")).as("tc"), max(col("dl")).as("dl"))
    .select(col("doc_id"), col("term"), col("tc"), col("dl"))

  /** Summed corpus stats from the per-batch `_stats` rows — the shape
    * [[graft.ext.Retrieval.bm25TopKIndexed]] expects. */
  def statsOf(spark: org.apache.spark.sql.SparkSession,
              prefix: String): DataFrame =
    spark.table(s"${prefix}_stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))

  /** Apply one micro-batch: append its postings to the term-bucketed
    * index, then record its additive stats row (watermark write, LAST).
    * Returns the new [[Replay]] watermark. */
  def applyBm25Batch(batch: Dataset[Row], batchId: Long, idCol: String,
                     textCol: String, prefix: String, buckets: Int = 16,
                     knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val postT = s"${prefix}_postings"
    val statsT = s"${prefix}_stats"
    Replay.once(spark, statsT, "__last_batch", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        val tf = graft.core.CacheRegistry.persistTracked(
          postingsOf(batch.toDF(), idCol, textCol))
        if (!spark.catalog.tableExists(postT))
          graft.core.Materialize.bucketTable(spark, postT, tf,
            buckets = buckets, bucketCols = Seq("term"))
        else
          graft.core.Materialize.bucketAppend(spark, postT, tf,
            buckets = buckets, bucketCols = Seq("term"))
        spark.catalog.refreshTable(postT)
        // batch-additive corpus stats; docs with no tokens contribute no
        // postings and stay out of n_docs — the inverted-index convention
        tf.agg(countDistinct(col("doc_id")).as("n_docs"),
            sum(col("tc")).as("n_tokens"))
          .withColumn("__last_batch", lit(batchId))
          .write.mode("append").saveAsTable(statsT)
        spark.catalog.refreshTable(statsT)
      }
    }
  }

  /** Streaming wrapper ([[Replay.stream]]). */
  def bm25Ingest(docs: DataFrame, idCol: String, textCol: String,
                 prefix: String, buckets: Int = 16,
                 checkpoint: Option[String] = None): StreamingQuery =
    Replay.stream(docs, checkpoint)(
      applyBm25Batch(_, _, idCol, textCol, prefix, buckets, _))
}
