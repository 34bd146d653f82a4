package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Similarity

/**
 * Streaming EMBEDDING ingest with semantic near-dup gating — the
 * embedding-space twin of [[CorpusIngest.nearDupIngest]]: vectors
 * arrive as micro-batches, each batch drops vectors whose cosine
 * against an already-accepted vector in the same sign-LSH bucket
 * reaches `tau` (SemDeDup's criterion, restricted to bucket collisions
 * — the bucket is part of the operator's semantics, exactly as in
 * `ext_embed_neardup`), applies the within-batch lower-id-dominator
 * rule over the base-surviving vectors, and GROWS the persisted
 * bucket-keyed vector index by the survivors.
 *
 * Reference scope: the reference's pipelines are batch-scheduled
 * (`1_AWS/README.md:37` `@daily`); a continuous embedding-dedup ingest
 * is the streaming extension of the same daily cycle, in the same
 * spirit as [[CorpusIngest]].
 *
 * Scale shape: per trigger the candidate join reads the standing index
 * IN PLACE (the `_vecs` table is bucketed on the LSH bucket column, so
 * the corpus side plans with no Exchange) and scores only same-bucket
 * pairs; the within-batch pass self-joins the (tiny) batch on bucket.
 * Standing state is one row per accepted vector keyed by its bucket —
 * O(dim) per doc, append-only via
 * [[graft.core.Materialize.bucketAppend]], compactable via
 * `bucketCompact`. Per-trigger work is O(batch × colliding bucket
 * rows), never a corpus rescan — the property that lets the ingest
 * run forever.
 *
 * Exactly-once: same two-table ordering discipline as
 * [[CorpusIngest.applyNearDupBatch]] — the `_ids` write (which carries
 * the `__last_batch` replay watermark) happens LAST, so a crash
 * between the index append and the ids write replays the whole step.
 * Replay of a partially-applied batch is EXACT: accepted ids never
 * re-enter (id anti-join), the vs-accepted join excludes same-id pairs
 * (a survivor whose index row already landed is not dropped against
 * itself), and survivors are pairwise non-similar under the dominator
 * rule, so no OTHER replayed index row can drop them either;
 * re-appended index rows are duplicates the EXISTS-style drop absorbs.
 */
object VectorIngest {

  /** The per-trigger gate, exposed for testing: survivors of `batch`
    * against the standing index + within-batch dominator rule.
    * `banded` must carry (idCol, __e double-array, bucket). */
  private def survivorsOf(banded: DataFrame, index: DataFrame,
                          idCol: String, tau: Double): DataFrame = {
    val scored = banded.join(
        index.select(col("bucket"), col(idCol).as("__aid"), col("__e").as("__ae")),
        Seq("bucket"))
      .filter(col("__aid") =!= col(idCol))
      .filter(round(Similarity.cosineNative(col("__e"), col("__ae")) + lit(1e-9), 6)
        >= tau)
      .select(col(idCol)).distinct()
    val fr = graft.core.CacheRegistry.persistTracked(
      banded.join(scored, Seq(idCol), "left_anti"))
    val lower = fr.select(col("bucket"), col(idCol).as("__ia"), col("__e").as("__ea"))
    val dominated = fr.join(lower, Seq("bucket"))
      .filter(col("__ia") < col(idCol))
      .filter(round(Similarity.cosineNative(col("__e"), col("__ea")) + lit(1e-9), 6)
        >= tau)
      .select(col(idCol)).distinct()
    fr.join(dominated, Seq(idCol), "left_anti")
  }

  /**
   * Apply one micro-batch of vectors to the accepted index. Returns the
   * new [[Replay]] watermark.
   */
  def applyEmbedBatch(batch: Dataset[Row], batchId: Long, idCol: String,
                      vecCol: String, prefix: String,
                      tau: Double = 0.99, bits: Int = 4,
                      knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val idsT = s"${prefix}_ids"
    val vecsT = s"${prefix}_vecs"
    Replay.once(spark, idsT, "__last_batch", batchId, knownLast) { _ =>
      graft.core.CacheRegistry.scoped {
        graft.functions.GraftFunctions.register(spark)
        def banded(df: DataFrame): DataFrame = df
          .select(col(idCol), Similarity.asDouble(col(vecCol)).as("__e"))
          .withColumn("bucket", Similarity.bucketId(col("__e"), bits))
          .select(col(idCol), col("__e"), col("bucket"))
        if (!spark.catalog.tableExists(vecsT))
          // seed an EMPTY index with the right schema so every batch takes
          // the same gate-then-append path
          graft.core.Materialize.bucketTable(spark, vecsT,
            banded(batch.limit(0).toDF()), buckets = 8, bucketCols = Seq("bucket"))
        val batchNew =
          if (!spark.catalog.tableExists(idsT)) batch.toDF()
          else batch.join(spark.table(idsT).select(col(idCol)), Seq(idCol), "left_anti")
        val b = graft.core.CacheRegistry.persistTracked(banded(batchNew))
        // EAGER lineage cut before the append: the survivor plan reads the
        // very table the append mutates
        val surv = survivorsOf(b, spark.table(vecsT), idCol, tau).localCheckpoint()
        graft.core.Materialize.bucketAppend(spark, vecsT,
          surv.select(col(idCol), col("__e"), col("bucket")),
          buckets = 8, bucketCols = Seq("bucket"))
        spark.catalog.refreshTable(vecsT)
        // watermark write LAST (replay-exactness argument in the scaladoc)
        Replay.appendOneFile(
          surv.select(col(idCol)).withColumn("__last_batch", lit(batchId)), idsT)
        spark.catalog.refreshTable(idsT)
      }
    }
  }

  // ---- Streaming mini-batch k-means ------------------------------------

  /** Current centroid state (cluster → (cnt, vector)) from the `_state`
    * table at watermark `at`, duplicate-absorbing (crash-replayed state
    * rows are exact duplicates — see [[applyKmeansBatch]]). */
  private def stateAt(spark: org.apache.spark.sql.SparkSession,
                      stateT: String, at: Long): Seq[(Long, Long, Array[Double])] =
    spark.table(stateT).filter(col("__batch") === at).distinct()
      .groupBy(col("cluster"), col("cnt"))
      .agg(map_from_arrays(collect_list(col("dim")), collect_list(col("c")))
        .as("m"))
      .collect().map { r =>
        val m = r.getMap[Long, Double](2)
        (r.getLong(0), r.getLong(1),
          (0 until m.size).map(d => m(d.toLong)).toArray)
      }.sortBy(_._1)

  /**
   * Apply one micro-batch of the streaming MINI-BATCH K-MEANS (Sculley,
   * WWW 2010): assign the batch to the current centroids (scan-only —
   * the k×dim state rides the projection as a literal, nothing
   * shuffles), then fold the batch into the cumulative weighted mean:
   * `c ← round((cnt·c + Σx) / (cnt + n) + 1e-9, 6)`, `cnt ← cnt + n` —
   * a cluster the batch never hits keeps its centroid and count.
   * Batch 0 seeds from its k lowest-id vectors (rounded, cnt = 0),
   * matching the batch `kmeansFit` seeding convention.
   *
   * State = k×dim (cluster, dim, c, cnt) rows appended per batch under
   * `__batch`, so every historical state survives; the `_marks` row
   * (written LAST) is the replay watermark. A crash between the state
   * append and the marks write replays the batch against the INTACT
   * previous state and re-appends bit-identical rows, which the
   * distinct-read absorbs — the same duplicate-absorption argument as
   * the BM25 postings ingest.
   */
  def applyKmeansBatch(batch: Dataset[Row], batchId: Long, idCol: String,
                       vecCol: String, prefix: String, k: Int,
                       knownLast: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val stateT = s"${prefix}_state"
    val marksT = s"${prefix}_marks"
    Replay.once(spark, marksT, "__last_batch", batchId, knownLast) { last =>
      graft.core.CacheRegistry.scoped {
        val b = graft.core.CacheRegistry.persistTracked(
          batch.toDF().select(col(idCol),
            Similarity.asDouble(col(vecCol)).as("__e")))
        // Seed iff NO batch has been applied (watermark −1) — NOT on
        // state-table existence: in the batch-0 crash window (state rows
        // landed, marks write lost) the table exists but holds no rows at
        // __batch = −1, and keying on existence would hand an EMPTY
        // centroid set to assignNearestScan forever. Re-seeding replays
        // batch 0 deterministically; the re-appended state rows are
        // bit-exact duplicates the distinct-read absorbs.
        val prev: Seq[(Long, Long, Array[Double])] =
          if (last < 0)
            // seed: k lowest-id vectors of the first batch, rounded like
            // the batch kmeansFit seeds, weight 0 (they are priors, not
            // observations — batch 0's own assignment supplies the data)
            b.select(col(idCol).cast("long").as("__id"),
                transform(col("__e"), x => round(x + lit(1e-9), 6)).as("__c"))
              .sort(col("__id")).limit(k).collect().zipWithIndex
              .map { case (r, i) =>
                (i.toLong, 0L, r.getSeq[Double](1).toArray) }.toSeq
          else stateAt(spark, stateT, last)
        val cents = prev.map { case (l, _, c) => (l, c.toSeq) }
        val assigned = Similarity.assignNearestScan(b, "__e", cents)
        val partial = assigned
          .select(col("assigned_label").as("cluster"),
            posexplode(col("__e")).as(Seq("dim", "x")))
          .groupBy(col("cluster"), col("dim").cast("long").as("dim"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        import spark.implicits._
        val old = prev.flatMap { case (l, cnt, c) =>
          c.zipWithIndex.map { case (x, d) => (l, d.toLong, x, cnt) }
        }.toDF("cluster", "dim", "c", "cnt")
        val next = old.join(partial, Seq("cluster", "dim"), "left")
          .select(col("cluster"), col("dim"),
            when(col("n").isNull, col("c"))
              .otherwise(round((col("cnt") * col("c") + col("s"))
                / (col("cnt") + col("n")) + lit(1e-9), 6)).as("c"),
            (col("cnt") + coalesce(col("n"), lit(0L))).as("cnt"))
          .withColumn("__batch", lit(batchId))
          .localCheckpoint() // lineage reads the state the append mutates
        next.write.mode("append").saveAsTable(stateT)
        spark.catalog.refreshTable(stateT)
        // watermark LAST (replay-exactness argument in the scaladoc)
        Seq(batchId).toDF("__last_batch")
          .write.mode("append").saveAsTable(marksT)
        spark.catalog.refreshTable(marksT)
      }
    }
  }

  /** Streaming mini-batch k-means wrapper; final state is the `_state`
    * rows at the last applied batch. */
  def kmeansIngest(vecs: DataFrame, idCol: String, vecCol: String,
                   prefix: String, k: Int,
                   checkpoint: Option[String] = None): StreamingQuery =
    Replay.stream(vecs, checkpoint)(
      applyKmeansBatch(_, _, idCol, vecCol, prefix, k, _))

  /** Streaming wrapper ([[Replay.stream]]). */
  def embedIngest(vecs: DataFrame, idCol: String, vecCol: String,
                  prefix: String, tau: Double = 0.99, bits: Int = 4,
                  checkpoint: Option[String] = None): StreamingQuery =
    Replay.stream(vecs, checkpoint)((batch, batchId, last) =>
      applyEmbedBatch(batch, batchId, idCol, vecCol, prefix, tau, bits, last))
}
