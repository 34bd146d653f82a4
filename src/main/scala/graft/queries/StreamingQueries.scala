package graft.queries

import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/**
 * Structured Streaming entries in the correctness table: the stream is
 * driven to completion (processAllAvailable over the fixture files) and
 * its materialized result must hash-match the BATCH oracle — the
 * exactly-once file-source guarantee, checked by DuckDB.
 */
object StreamingQueries {

  /**
   * Run a streaming drain with a smaller state-store shard count: each
   * shuffle partition is a state store instance with per-batch delta-file
   * I/O, so 32 shards of overhead dominate a fixture-sized drain. 8 is
   * plenty for the harness; a production feed sizes this to key
   * cardinality × executor count like any other shuffle.
   *
   * The drain's checkpoint root (offsets WAL + state store deltas) is
   * also redirected to a fresh RAM-backed dir (`/dev/shm`, ~10× the
   * disk's small-file throughput here) — state-store `commitTimeMs` is
   * the dominant phase of a fixture-sized drain, and these drains are
   * run-once-and-discard so durability buys nothing. A production feed
   * keeps its checkpoint on storage that survives the driver — this
   * redirect is the harness analogue of "give the state store fast local
   * disk", not a durability recommendation. A fresh root per invocation
   * also guarantees a rerun can never resume a prior run's offsets.
   */
  private def withStatePartitions[T](s: org.apache.spark.sql.SparkSession,
                                     n0: Int)(f: => T): T = {
    // measurement knob: override the drain's shard count without a
    // rebuild (SPARK_GRAFT_ST_PARTS=2 bench ...); default = caller's n
    val n = sys.env.get("SPARK_GRAFT_ST_PARTS").map(_.toInt).getOrElse(n0)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    val prevCp = s.conf.getOption("spark.sql.streaming.checkpointLocation")
    val shm = new java.io.File("/dev/shm")
    val cpRoot = if (shm.isDirectory && shm.canWrite)
      Some(java.nio.file.Files.createTempDirectory(shm.toPath, "graft_st_cp"))
    else None
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    // AQE off for the drain: a micro-batch trigger runs ~12 exchanges of
    // a few thousand rows each, and AQE's per-stage materialize +
    // driver re-plan is pure constant overhead at that size (measured
    // ~0.5 s/trigger off the ingest survivor-chain materialization,
    // median 1.9 -> 1.4 s; SCALE.md streaming table). A production feed
    // with real batch sizes keeps the session default (on) — this is
    // harness batch-size shaping, same category as the partition count.
    s.conf.set("spark.sql.adaptive.enabled", "false")
    cpRoot.foreach(p =>
      s.conf.set("spark.sql.streaming.checkpointLocation", p.toString))
    try f finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      prevCp match {
        case Some(v) => s.conf.set("spark.sql.streaming.checkpointLocation", v)
        case None    => s.conf.unset("spark.sql.streaming.checkpointLocation")
      }
      cpRoot.foreach { p =>
        import scala.util.Try
        Try {
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
        }
      }
    }
  }

  /**
   * Stage the events fixture PLUS far-future sentinel rows (one per
   * requested event_type, ids -1, -2, …, user_id -1) into a scratch dir
   * BEFORE the stream starts. The whole drain is then batch 0 — all
   * files, watermark still at its initial floor, so nothing is dropped
   * as late — plus one no-data batch in which the advanced watermark
   * closes every window/timeout and flushes outer/terminal state.
   * Draining first and appending the sentinel after pays two extra
   * multi-second watermark-transition batches for the same final table
   * (measured 9.3 s → 3.6 s on the stream-stream outer join at sf0.1);
   * a live feed reaches the identical closed state as its watermark
   * advances naturally.
   */
  private def stageWithSentinel(s: org.apache.spark.sql.SparkSession,
                                dir: String, types: Seq[String]): String = {
    val stage = java.nio.file.Files.createTempDirectory("graft_st_stage").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$stage/a_events.parquet"))
    val maxSec = graft.core.Tables.events(s, dir)
      .agg(max(col("ts").cast("long"))).head().getLong(0)
    // The fixture copy and the sentinel must agree on ts's physical type:
    // readEvents pins one schema from the first listing, so a mixed-type
    // directory fails or corrupts ts. Probe the fixture's encoding (same
    // footer probe readEvents uses) and write the sentinel to match —
    // an INT64-nanos column when the fixture is nanos, NTZ otherwise.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fixtureNanos = s.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType == org.apache.spark.sql.types.LongType
    import s.implicits._
    val sentinelDir =
      java.nio.file.Files.createTempDirectory("graft_st_sent").toString
    val sentinelRaw =
      if (fixtureNanos) {
        val tsNanos = (maxSec + 86400L) * 1000000000L
        types.zipWithIndex.map { case (tpe, i) =>
          (-(i + 1).toLong, tsNanos, -1L, tpe, 0.0, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      } else {
        val sentinelTs = java.time.LocalDateTime.ofEpochSecond(
          maxSec + 86400L, 0, java.time.ZoneOffset.UTC)
        types.zipWithIndex.map { case (tpe, i) =>
          (-(i + 1).toLong, sentinelTs, -1L, tpe, 0.0, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      }
    sentinelRaw.coalesce(1).write.mode("overwrite").parquet(sentinelDir)
    val part = new java.io.File(sentinelDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$stage/z_sentinel.parquet"))
    stage
  }

  private val DocChunkSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  /**
   * Stage document frames as one parquet file each, named and
   * mtime-ordered so the file stream source (ordered by (mtime, path))
   * drains them one per micro-batch in sequence — mtimes are pinned a
   * minute apart in the recent past so copy speed can't reorder them.
   */
  private def stageIdChunks(s: org.apache.spark.sql.SparkSession,
                            chunks: Seq[org.apache.spark.sql.DataFrame]): String = {
    val stage = java.nio.file.Files.createTempDirectory("graft_st_ingest")
    // ONE write job for all chunks (union + partitionBy on the chunk
    // ordinal), not one job per chunk — the per-job constant dominated
    // the staging wall at fixture scale
    val scratch = java.nio.file.Files.createTempDirectory("graft_st_ing_part")
    chunks.zipWithIndex.map { case (c, i) => c.withColumn("__chunk", lit(i)) }
      .reduce(_ unionByName _)
      .repartition(col("__chunk"))
      .write.mode("overwrite").partitionBy("__chunk")
      .parquet(scratch.toString)
    chunks.indices.foreach { i =>
      val part = new java.io.File(s"$scratch/__chunk=$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$stage/${('a' + i).toChar}_chunk.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (chunks.size - i) * 60000L))
    }
    stage.toString
  }

  /** DuckDB: shingle sets (3-token, whole-text fallback for short docs)
    * of a doc CTE — the exact twin of `Dedup.shingleFrame`. */
  private def duckShingleCte(src: String): String =
    s"""SELECT doc_id, CASE WHEN len(toks) < 3
        THEN [array_to_string(toks, ' ')]
        ELSE list_distinct(list_transform(range(1, len(toks) - 1),
          i -> array_to_string(toks[i:i+2], ' '))) END AS shingles
      FROM (SELECT doc_id, ${ExtQueries.DuckToks} AS toks FROM $src)"""

  /** DuckDB: shingle-Jaccard(a, b) >= 0.5 join condition. */
  private def duckJacc(a: String, b: String): String =
    s"""CAST(len(list_intersect($a.shingles, $b.shingles)) AS DOUBLE) /
        (len($a.shingles) + len($b.shingles)
         - len(list_intersect($a.shingles, $b.shingles))) >= 0.5"""

  /** Four id-range chunks of `documents`; chunks 1-3 carry tail-copies
    * of earlier-chunk docs so cross-batch near-dup drops are guaranteed
    * (mirrors the engine-side `chunk(i)` staging). */
  private val IngestChunkDefs =
    """st AS (SELECT (max(doc_id) // 4) + 1 AS s FROM documents),
      c0 AS (SELECT doc_id, text FROM documents, st WHERE doc_id < s),
      c1 AS (SELECT doc_id, text FROM documents, st
          WHERE doc_id >= s AND doc_id < 2 * s
        UNION ALL
        SELECT doc_id + 1000000, text || ' dup marker tail'
          FROM documents, st WHERE doc_id < s AND doc_id % 5 = 1),
      c2 AS (SELECT doc_id, text FROM documents, st
          WHERE doc_id >= 2 * s AND doc_id < 3 * s
        UNION ALL
        SELECT doc_id + 2000000, text || ' dup marker tail'
          FROM documents, st
          WHERE doc_id >= s AND doc_id < 2 * s AND doc_id % 5 = 2),
      c3 AS (SELECT doc_id, text FROM documents, st
          WHERE doc_id >= 3 * s
        UNION ALL
        SELECT doc_id + 3000000, text || ' dup marker tail'
          FROM documents, st
          WHERE doc_id >= 2 * s AND doc_id < 3 * s AND doc_id % 5 = 3)"""

  /**
   * Unrolled ingest levels over per-chunk shingle CTEs `shNames`: level
   * i drops docs with an exact-Jaccard >= 0.5 twin in the accumulated
   * accepted set, then applies the within-batch lower-id-dominator rule
   * over the remaining (base-surviving) docs; survivors join the
   * accepted set for level i+1. Survivor CTEs are s0..s{n-1}.
   */
  private def ingestLevelCtes(shNames: Seq[String]): String = {
    val level0 =
      s"""ds0 AS (SELECT DISTINCT b.doc_id FROM ${shNames.head} b
           JOIN ${shNames.head} a
           ON a.doc_id < b.doc_id AND ${duckJacc("b", "a")}),
         s0 AS (SELECT doc_id, shingles FROM ${shNames.head}
           WHERE doc_id NOT IN (SELECT doc_id FROM ds0)),
         acc1 AS (SELECT * FROM s0)"""
    val levels = (1 until shNames.size).map { i =>
      s"""dvs$i AS (SELECT DISTINCT b.doc_id FROM ${shNames(i)} b JOIN acc$i p
           ON ${duckJacc("b", "p")}),
         fr$i AS (SELECT * FROM ${shNames(i)}
           WHERE doc_id NOT IN (SELECT doc_id FROM dvs$i)),
         ds$i AS (SELECT DISTINCT b.doc_id FROM fr$i b JOIN fr$i a
           ON a.doc_id < b.doc_id AND ${duckJacc("b", "a")}),
         s$i AS (SELECT doc_id, shingles FROM fr$i
           WHERE doc_id NOT IN (SELECT doc_id FROM ds$i)),
         acc${i + 1} AS (SELECT * FROM acc$i UNION ALL SELECT * FROM s$i)"""
    }.mkString(",\n")
    s"$level0,\n$levels"
  }

  /** The st_neardup_ingest oracle: raw chunks through the four levels. */
  private lazy val nearDupIngestOracle: String = {
    val shingleCtes = (0 until 4)
      .map(i => s"c${i}sh AS (${duckShingleCte(s"c$i")})").mkString(",\n")
    val finalSelect = (0 until 4)
      .map(i => s"SELECT doc_id, CAST($i AS BIGINT) AS batch FROM s$i")
      .mkString("\nUNION ALL\n")
    s"WITH $IngestChunkDefs,\n$shingleCtes,\n" +
      s"${ingestLevelCtes((0 until 4).map(i => s"c${i}sh"))}\n$finalSelect"
  }

  /**
   * The st_curation_ingest oracle: Gopher gates applied per chunk
   * BEFORE the same four ingest levels (TextOps.gopherGate's bounds:
   * word count 20-1000, mean word length 3-10, top-token fraction
   * <= 0.2), survivors labeled with their hash split. Gated docs have
   * >= 20 words, so the plain 3-shingle CTE needs no short-doc
   * fallback (same reasoning as ext_curation_incremental's oracle).
   */
  private lazy val curationIngestOracle: String = {
    def gateCtes(src: String, out: String) =
      s"""t_$out AS (SELECT doc_id, unnest(${ExtQueries.DuckToksRaw}) AS tok
             FROM $src),
         pt_$out AS (SELECT doc_id, tok, count(*) AS c FROM t_$out GROUP BY 1, 2),
         m_$out AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
             round(CAST(sum(len(tok) * c) AS DOUBLE) / sum(c) + 1e-9, 4) AS mwl,
             round(CAST(max(c) AS DOUBLE) / sum(c) + 1e-9, 4) AS ttf
           FROM pt_$out GROUP BY doc_id),
         $out AS (SELECT s.doc_id, s.text FROM $src s
           JOIN m_$out m ON m.doc_id = s.doc_id
           WHERE m.n_words BETWEEN 20 AND 1000
             AND m.mwl BETWEEN 3.0 AND 10.0 AND m.ttf <= 0.2)"""
    val gates = (0 until 4).map(i => gateCtes(s"c$i", s"g$i")).mkString(",\n")
    val shingleCtes = (0 until 4).map(i =>
      s"""g${i}sh AS (SELECT doc_id, list_distinct(list_transform(
           range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
           AS shingles
         FROM (SELECT doc_id, ${ExtQueries.DuckToks} AS toks FROM g$i))""")
      .mkString(",\n")
    val split =
      """CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
           THEN 'train'
           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
           THEN 'val' ELSE 'test' END"""
    val finalSelect = (0 until 4)
      .map(i => s"SELECT doc_id, CAST($i AS BIGINT) AS batch, $split AS split FROM s$i")
      .mkString("\nUNION ALL\n")
    s"WITH $IngestChunkDefs,\n$gates,\n$shingleCtes,\n" +
      s"${ingestLevelCtes((0 until 4).map(i => s"g${i}sh"))}\n$finalSelect"
  }

  /** Sign-LSH bucket (bits=4) over a double-list column `e` — the SQL
    * twin of `Similarity.bucketId`, same CASE family as the
    * `ext_embed_neardup` oracle. */
  private val DuckVecBucket: String =
    """(CASE WHEN e[1] > e[33] THEN 1 ELSE 0 END)
       + (CASE WHEN e[2] > e[34] THEN 2 ELSE 0 END)
       + (CASE WHEN e[3] > e[35] THEN 4 ELSE 0 END)
       + (CASE WHEN e[4] > e[36] THEN 8 ELSE 0 END)"""

  /** DuckDB: rounded cosine(a.e, b.e) >= 0.99 join condition. */
  private def duckVecCos(a: String, b: String): String =
    s"""round(list_inner_product($a.e, $b.e) /
        nullif(sqrt(list_inner_product($a.e, $a.e))
             * sqrt(list_inner_product($b.e, $b.e)), 0) + 1e-9, 6) >= 0.99"""

  /**
   * The st_embed_ingest oracle: four vec_id-quartile chunks (chunks 1-3
   * carry perturbed copies of earlier-chunk vectors, cosine ≈ 0.9999
   * with their originals) through the unrolled ingest levels — per
   * level, same-bucket cosine >= tau drop vs the accumulated accepted
   * set, then the within-batch lower-id-dominator rule over
   * base-survivors. The SQL twin of [[graft.streaming.VectorIngest]].
   */
  private lazy val embedIngestOracle: String = {
    val chunkDefs = {
      def pert(i: Int) =
        s"""UNION ALL SELECT vec_id + ${i}000000, list_prepend(e[1] + 0.01, e[2:64])
            FROM v, st WHERE vec_id >= ${i - 1} * s AND vec_id < $i * s
              AND vec_id % 5 = $i"""
      s"""st AS (SELECT (max(vec_id) // 4) + 1 AS s FROM embeddings),
        v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        c0 AS (SELECT vec_id, e FROM v, st WHERE vec_id < s),
        c1 AS (SELECT vec_id, e FROM v, st WHERE vec_id >= s AND vec_id < 2 * s
          ${pert(1)}),
        c2 AS (SELECT vec_id, e FROM v, st WHERE vec_id >= 2 * s AND vec_id < 3 * s
          ${pert(2)}),
        c3 AS (SELECT vec_id, e FROM v, st WHERE vec_id >= 3 * s
          ${pert(3)})"""
    }
    val bucketCtes = (0 until 4).map(i =>
      s"b$i AS (SELECT vec_id, e, $DuckVecBucket AS bucket FROM c$i)")
      .mkString(",\n")
    val level0 =
      s"""ds0 AS (SELECT DISTINCT x.vec_id FROM b0 x JOIN b0 a
           ON a.bucket = x.bucket AND a.vec_id < x.vec_id AND ${duckVecCos("x", "a")}),
         s0 AS (SELECT * FROM b0 WHERE vec_id NOT IN (SELECT vec_id FROM ds0)),
         acc1 AS (SELECT * FROM s0)"""
    val levels = (1 until 4).map { i =>
      s"""dvs$i AS (SELECT DISTINCT x.vec_id FROM b$i x JOIN acc$i p
           ON p.bucket = x.bucket AND ${duckVecCos("x", "p")}),
         fr$i AS (SELECT * FROM b$i
           WHERE vec_id NOT IN (SELECT vec_id FROM dvs$i)),
         ds$i AS (SELECT DISTINCT x.vec_id FROM fr$i x JOIN fr$i a
           ON a.bucket = x.bucket AND a.vec_id < x.vec_id AND ${duckVecCos("x", "a")}),
         s$i AS (SELECT * FROM fr$i
           WHERE vec_id NOT IN (SELECT vec_id FROM ds$i)),
         acc${i + 1} AS (SELECT * FROM acc$i UNION ALL SELECT * FROM s$i)"""
    }.mkString(",\n")
    val finalSelect = (0 until 4)
      .map(i => s"SELECT vec_id, CAST($i AS BIGINT) AS batch FROM s$i")
      .mkString("\nUNION ALL\n")
    s"WITH $chunkDefs,\n$bucketCtes,\n$level0,\n$levels\n$finalSelect"
  }

  /**
   * The st_kmeans_ingest oracle: streaming mini-batch k-means unrolled —
   * seed from batch 0's k lowest-id vectors (rounded, weight 0), then
   * per batch: scan-only argmax assignment against the current
   * centroids, cumulative weighted-mean fold
   * `c ← round((cnt·c + Σx)/(cnt + n) + 1e-9, 6)`, `cnt ← cnt + n`.
   * The SQL twin of [[graft.streaming.VectorIngest.applyKmeansBatch]].
   */
  private def kmeansIngestOracle(k: Int): String = {
    val chunkDefs =
      """st AS (SELECT (max(vec_id) // 4) + 1 AS s FROM embeddings),
        v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        c0 AS (SELECT vec_id, e FROM v, st WHERE vec_id < s),
        c1 AS (SELECT vec_id, e FROM v, st WHERE vec_id >= s AND vec_id < 2 * s),
        c2 AS (SELECT vec_id, e FROM v, st WHERE vec_id >= 2 * s AND vec_id < 3 * s),
        c3 AS (SELECT vec_id, e FROM v, st WHERE vec_id >= 3 * s)"""
    val seed =
      s"""k0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS lbl,
          list_transform(e, x -> round(x + 1e-9, 6)) AS cv,
          CAST(0 AS BIGINT) AS cnt
        FROM (SELECT * FROM c0 ORDER BY vec_id LIMIT $k))"""
    val steps = (0 until 4).map { i =>
      s"""a$i AS (SELECT vec_id, lbl FROM (
            SELECT c$i.vec_id, s.lbl, row_number() OVER (PARTITION BY c$i.vec_id
                ORDER BY ${ExtQueries.duckCos(s"c$i.e", "s.cv")} DESC, s.lbl) AS rn
            FROM c$i CROSS JOIN k$i s) WHERE rn = 1),
         d$i AS (SELECT a$i.lbl, CAST(generate_subscripts(c$i.e, 1) - 1 AS BIGINT)
              AS dim, unnest(c$i.e) AS x
           FROM c$i JOIN a$i ON a$i.vec_id = c$i.vec_id),
         p$i AS (SELECT lbl, dim, sum(x) AS sx, CAST(count(*) AS BIGINT) AS n
           FROM d$i GROUP BY 1, 2),
         e$i AS (SELECT lbl, CAST(generate_subscripts(cv, 1) - 1 AS BIGINT) AS dim,
             unnest(cv) AS c, cnt FROM k$i),
         u$i AS (SELECT e$i.lbl, e$i.dim,
             CASE WHEN p$i.n IS NULL THEN e$i.c
                  ELSE round((e$i.cnt * e$i.c + p$i.sx)
                             / (e$i.cnt + p$i.n) + 1e-9, 6) END AS c,
             e$i.cnt + coalesce(p$i.n, 0) AS cnt
           FROM e$i LEFT JOIN p$i ON p$i.lbl = e$i.lbl AND p$i.dim = e$i.dim),
         k${i + 1} AS (SELECT lbl, list(c ORDER BY dim) AS cv,
             CAST(max(cnt) AS BIGINT) AS cnt FROM u$i GROUP BY lbl)"""
    }.mkString(",\n")
    s"""WITH $chunkDefs,\n$seed,\n$steps
      SELECT lbl AS cluster, CAST(generate_subscripts(cv, 1) - 1 AS BIGINT) AS dim,
        unnest(cv) AS c, cnt FROM k4"""
  }

  private[graft] val VecChunkSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))

  def defs: Seq[QueryDef] = Seq(

    // Watermarked event-time windowed aggregation, streamed to a memory
    // sink until the source is drained; tumbling 1h windows align to the
    // hour so the batch oracle is a date_trunc GROUP BY.
    QueryDef("st_windowed_stats", (s, dir) => withStatePartitions(s, 8) {
      val q = EventStream.windowedStats(EventStream.readEvents(s, dir),
          "1 hour", "2 hours")
        .writeStream.format("memory")
        .queryName("graft_st_windowed").outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_windowed").select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n_events"),
        round(col("avg_value") + lit(1e-9), 6).as("avg_value"),
        col("max_value"))
    }, Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
        count(*) AS n_events, round(avg(value) + 1e-9, 6) AS avg_value,
        max(value) AS max_value
      FROM events GROUP BY 1, 2""")),

    // Windowed distinct-user reach via HLL registers as NATIVE
    // streaming state: groupBy(window, register) + max(rho) is a plain
    // watermarked stateful aggregation — state is ≤64 rows per window
    // no matter how many users arrive, the scalable alternative to
    // dropDuplicates-then-count whose state grows with the key
    // universe. Estimates derive from the drained register table;
    // the exact side rides the batch twin for the audit columns.
    QueryDef("st_hll_windowed", (s, dir) => withStatePartitions(s, 8) {
      import graft.functions.HyperLogLog
      val key = col("user_id").cast("string")
      val q = EventStream.readEvents(s, dir)
        .withWatermark("ts", "2 hours")
        .select(window(col("ts"), "1 hour").as("win"),
          HyperLogLog.idxCol(key).as("reg"), HyperLogLog.rhoCol(key).as("rho"))
        .groupBy(col("win"), col("reg")).agg(max(col("rho")).as("rho"))
        .writeStream.format("memory").queryName("graft_st_hll_win")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val regs = s.table("graft_st_hll_win")
        .select(col("win.start").as("window_start"), col("reg"), col("rho"))
      HyperLogLog.estimate(regs, Seq("window_start"))
        .join(graft.core.Tables.events(s, dir)
          .groupBy(date_trunc("hour", col("ts")).as("window_start"))
          .agg(countDistinct(col("user_id").cast("string"))
            .as("exact_distinct")),
          Seq("window_start"))
        .select(col("window_start"), col("exact_distinct"), col("est"))
    }, Some("""WITH e AS (SELECT date_trunc('hour', ts) AS window_start,
          CAST(user_id AS VARCHAR) AS k FROM events),
      h AS (SELECT window_start, k,
          ((strpos('0123456789abcdef', substr(md5(k), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(k), 2, 1)) - 1)) % 64
            AS reg,
          CASE WHEN length(regexp_extract(substr(md5(k), 3, 8), '^(0*)', 1)) = 8
            THEN 33
            ELSE length(regexp_extract(substr(md5(k), 3, 8), '^(0*)', 1)) * 4
              + CASE substr(substr(md5(k), 3, 8),
                  length(regexp_extract(substr(md5(k), 3, 8), '^(0*)', 1)) + 1, 1)
                WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                ELSE 0 END + 1 END AS rho
        FROM e),
      regs AS (SELECT window_start, reg, max(rho) AS rho FROM h GROUP BY 1, 2),
      agg AS (SELECT window_start, sum(pow(2.0, -rho)) AS hsum,
          CAST(count(*) AS BIGINT) AS hit FROM regs GROUP BY 1),
      est AS (SELECT window_start,
          round(CASE WHEN (0.709 * 4096) / (hsum + (64 - hit)) <= 160.0
              AND hit < 64
            THEN 64.0 * ln(64.0 / (64 - hit))
            ELSE (0.709 * 4096) / (hsum + (64 - hit)) END + 1e-9, 6) AS est
        FROM agg),
      ex AS (SELECT window_start, CAST(count(DISTINCT k) AS BIGINT)
          AS exact_distinct FROM e GROUP BY 1)
      SELECT ex.window_start, ex.exact_distinct, est.est
      FROM ex JOIN est USING (window_start)""")),


    // Late-data drop/emit boundary, pinned (r9 adversarial): event
    // times are SYNTHESIZED from event_id (hour = id mod 12, minute =
    // id mod 60 — both engines derive identical timestamps), and the
    // stream arrives in 3 id-range chunks that each span the full
    // 12-hour pattern, so every chunk after the first is maximally
    // late. This pins Spark's TWO-watermark semantics (the 3.4+
    // late-event/eviction split): the late filter for trigger b uses
    // the watermark of the PREVIOUS trigger, eviction the current one.
    // Chunk 0 sets the watermark to max(ts) − 1h = 10:59; chunk 1 is
    // still admitted (its trigger's LATE filter carries the initial 0
    // watermark) and its trigger then EVICTS hours 0–9 (ends ≤ 10:59)
    // with chunks 0+1 merged; chunk 2's hour 0–9 rows hit the 10:59
    // late filter and are DROPPED. Hours 10–11 never close (final
    // watermark 10:59 < their ends), so append mode withholds them.
    // Net: the sink holds hours 0–9 with chunk-0 + chunk-1
    // contributions only — and max_event_id per window proves chunk 2
    // was dropped rather than merged.
    QueryDef("st_late_data_drop", (s, dir) => withStatePartitions(s, 8) {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"))
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      val step = mx / 3 + 1
      val stage = stageIdChunks(s, (0 until 3).map(i =>
        ev.filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType)))
      val base = lit("2026-01-01 00:00:00").cast("timestamp").cast("long")
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(col("event_id"),
          timestamp_seconds(base + (col("event_id") % 12) * 3600
            + (col("event_id") % 60) * 60).as("ts"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("win"))
        .agg(count(lit(1)).as("n_events"), max(col("event_id")).as("max_event_id"))
        .writeStream.format("memory").queryName("graft_st_late")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_late")
        .select(col("win.start").as("window_start"),
          col("n_events"), col("max_event_id"))
    }, Some("""WITH mxs AS (SELECT max(event_id) // 3 + 1 AS step FROM events),
      e AS (SELECT event_id,
          TIMESTAMP '2026-01-01 00:00:00'
            + ((event_id % 12) * 3600 + (event_id % 60) * 60)
              * INTERVAL 1 SECOND AS ts
        FROM events CROSS JOIN mxs WHERE event_id < 2 * step)
      SELECT date_trunc('hour', ts) AS window_start,
        CAST(count(*) AS BIGINT) AS n_events,
        max(event_id) AS max_event_id
      FROM e WHERE (event_id % 12) <= 9 GROUP BY 1""")),


    // The EMIT side of the lateness family (r10): st_late_data_drop pins
    // what the watermark DROPS; this row pins what an allowed-lateness
    // budget MERGES — the knob users actually tune. Same synthesized
    // 12-hour pattern, same 3 maximally-late id-chunks, but the
    // watermark delay is 6 hours and the sink runs in UPDATE mode, so a
    // late-but-inside-the-budget event re-emits its window's merged row
    // instead of being discarded. Two-watermark semantics (the 3.4+
    // late-filter/eviction split, pinned by the drop twin): chunk 0
    // raises the watermark to 11:59 − 6h = 5:59; chunk 1's trigger
    // still carries the INITIAL late filter (one-trigger lag) so all of
    // chunk 1 merges; chunk 2's late filter IS 5:59 — its hours 0–4
    // (window end ≤ 5:59) are dropped, its hours 5–11 are late yet
    // inside the budget and MERGE. The memory sink accumulates every
    // update row; max() per window reads the final merged state (counts
    // are monotone under merge), and max_event_id ≥ 2·step on hours
    // 5–11 vs < 2·step on hours 0–4 proves merge vs drop per window.
    QueryDef("st_late_data_merge", (s, dir) => withStatePartitions(s, 8) {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"))
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      val step = mx / 3 + 1
      val stage = stageIdChunks(s, (0 until 3).map(i =>
        ev.filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType)))
      val base = lit("2026-01-01 00:00:00").cast("timestamp").cast("long")
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(col("event_id"),
          timestamp_seconds(base + (col("event_id") % 12) * 3600
            + (col("event_id") % 60) * 60).as("ts"))
        .withWatermark("ts", "6 hours")
        .groupBy(window(col("ts"), "1 hour").as("win"))
        .agg(count(lit(1)).as("n_events"), max(col("event_id")).as("max_event_id"))
        .writeStream.format("memory").queryName("graft_st_late_merge")
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_late_merge")
        .groupBy(col("win.start").as("window_start"))
        .agg(max(col("n_events")).as("n_events"),
          max(col("max_event_id")).as("max_event_id"))
    }, Some("""WITH mxs AS (SELECT max(event_id) // 3 + 1 AS step FROM events),
      e AS (SELECT event_id,
          TIMESTAMP '2026-01-01 00:00:00'
            + ((event_id % 12) * 3600 + (event_id % 60) * 60)
              * INTERVAL 1 SECOND AS ts
        FROM events CROSS JOIN mxs
        WHERE event_id < 2 * step        -- chunks 0+1: always admitted
           OR (event_id % 12) >= 5)      -- chunk 2: only windows ending
                                         -- after the 5:59 late filter
      SELECT date_trunc('hour', ts) AS window_start,
        CAST(count(*) AS BIGINT) AS n_events,
        max(event_id) AS max_event_id
      FROM e GROUP BY 1""")),


    // State EVICTION under watermarks (r11 task 8): the lateness family
    // pins what the watermark drops/merges at the SINK, but never that
    // the state store actually SHRINKS — and unbounded state is the
    // streaming scale-killer at 100 TB. This row reads the state-store
    // row counts off the engine's own per-trigger progress metrics and
    // oracle-replays the whole trajectory chunk-by-chunk. Event times
    // are id-synthesized and MONOTONE by chunk with a deliberately
    // front-loaded shape — chunk 0 spans hours 0-5 (six open windows),
    // chunks 1-3 one hour each — so the 90-minute watermark's first
    // advance evicts four windows at trigger 1 and numRowsTotal
    // VISIBLY DROPS (6 → 3) inside the data batches, then holds at 3
    // while total windows seen grows to 9: state tracks open windows,
    // not history. Eviction at trigger t uses the watermark computed
    // from data through t-1 (the 3.4+ two-watermark split the lateness
    // rows pin); the trailing no-data batch is excluded (its timing is
    // an engine policy, not data semantics). rows_removed is the
    // engine's eviction counter; the oracle derives both columns from
    // the raw events alone.
    QueryDef("st_state_eviction", (s, dir) => withStatePartitions(s, 8) {
      val ev = s.read.parquet(s"$dir/events.parquet").select(col("event_id"))
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        ev.filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType)))
      val base = lit("2026-01-01 00:00:00").cast("timestamp").cast("long")
      val chunkC = floor(col("event_id") / lit(step))
      val hr = when(chunkC === 0, pmod(col("event_id"), lit(6)))
        .otherwise(chunkC + lit(5))
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(col("event_id"),
          timestamp_seconds(base + hr * 3600
            + pmod(col("event_id"), lit(60)) * 60).as("ts"))
        .withWatermark("ts", "90 minutes")
        .groupBy(window(col("ts"), "1 hour").as("win"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("graft_st_evict")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      import s.implicits._
      q.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && p.stateOperators.nonEmpty)
        .map(p => (p.batchId, p.numInputRows,
          p.stateOperators.head.numRowsTotal,
          p.stateOperators.head.numRowsRemoved))
        .toDF("batch_id", "n_input", "state_rows", "rows_removed")
    }, Some("""WITH mxs AS (SELECT max(event_id) // 4 + 1 AS step FROM events),
      e AS (SELECT event_id, event_id // step AS chunk,
          CASE WHEN event_id // step = 0 THEN event_id % 6
               ELSE event_id // step + 5 END AS hr,
          event_id % 60 AS mn
        FROM events CROSS JOIN mxs),
      t AS (SELECT unnest(range(0, 4)) AS bid),
      inp AS (SELECT chunk AS bid, CAST(count(*) AS BIGINT) AS n_input
        FROM e GROUP BY 1),
      wm AS (SELECT t.bid,
          coalesce((SELECT max(hr * 3600 + mn * 60) - 5400 FROM e
            WHERE chunk < t.bid), -1) AS wm_sec
        FROM t),
      seen AS (SELECT t.bid, h.hr
        FROM t JOIN (SELECT DISTINCT chunk, hr FROM e) h ON h.chunk <= t.bid),
      cum AS (SELECT seen.bid,
          CAST(count(*) AS BIGINT) AS n_seen,
          CAST(sum(CASE WHEN (hr + 1) * 3600 <= wm_sec THEN 1 ELSE 0 END)
            AS BIGINT) AS n_evicted
        FROM seen JOIN wm ON wm.bid = seen.bid GROUP BY 1)
      SELECT c.bid AS batch_id, inp.n_input,
        c.n_seen - c.n_evicted AS state_rows,
        c.n_evicted - coalesce(lag(c.n_evicted) OVER (ORDER BY c.bid), 0)
          AS rows_removed
      FROM cum c JOIN inp ON inp.bid = c.bid""")),


    // JOIN-state eviction — the stream-stream twin of
    // st_state_eviction: a symmetric hash join buffers BOTH sides until
    // the watermark (tightened by the interval condition) lets rows go,
    // and unbounded join state is the other streaming scale-killer.
    // Click→purchase interval join (30-min window, 1-hour watermarks)
    // over id-synthesized MONOTONE event times in 4 chunks; both
    // sources step the same staged files in lockstep. Two grains of
    // oracle check: (a) the EMISSION trajectory is exact — the 1-hour
    // eviction lag exceeds the 30-minute condition span, so no valid
    // pair's earlier element is evicted before its partner arrives, and
    // every pair emits at trigger max(click chunk, purchase chunk);
    // (b) STATE is checked as a per-trigger boolean (buffered rows <
    // cumulative post-filter input from trigger 1 on — hundreds of rows
    // of margin; exactly equal at trigger 0, before any eviction),
    // not an exact count: join-state eviction boundaries are
    // engine-internal (per-side state watermarks derived from the
    // condition, ±1 semantics), unlike the aggregation twin whose
    // eviction granularity is whole windows the oracle can replay.
    QueryDef("st_join_state_eviction", (s, dir) => withStatePartitions(s, 8) {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"))
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        ev.filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType)))
      val base = lit("2026-01-01 00:00:00").cast("timestamp").cast("long")
      def src() = {
        val raw = s.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .option("maxFilesPerTrigger", 1).parquet(stage)
        val chunkC = floor(col("event_id") / lit(step))
        raw.select(col("event_id"), col("user_id"),
          timestamp_seconds(base + (chunkC * 3 + pmod(col("event_id"), lit(3))) * 3600
            + pmod(col("event_id"), lit(60)) * 60).as("ts"))
      }
      val clicks = src().filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = src().filter(col("event_id") % 2 === 1)
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val q = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
        .writeStream.format("memory").queryName("graft_st_jevict")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      import s.implicits._
      // numInputRows counts SOURCE rows (each side reads the full chunk
      // before its parity filter), so the buffered baseline is half the
      // cumulative input: every chunk row is exactly one of click or
      // purchase, so trigger 0 buffers cumInput/2 exactly (boolean
      // false — nothing evicted yet) and every later trigger holds
      // strictly less (boolean true, with hundreds of rows of margin).
      var cumInput = 0L
      q.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && p.stateOperators.nonEmpty)
        .map { p =>
          cumInput += p.numInputRows
          (p.batchId, p.numInputRows, p.sink.numOutputRows,
            p.stateOperators.head.numRowsTotal < cumInput / 2)
        }
        .toDF("batch_id", "n_input", "n_pairs", "state_lt_input")
    }, Some("""WITH mxs AS (SELECT max(event_id) // 4 + 1 AS step FROM events),
      e AS (SELECT event_id, user_id, event_id // step AS chunk,
          ((event_id // step) * 3 + event_id % 3) * 3600
            + (event_id % 60) * 60 AS t
        FROM events CROSS JOIN mxs),
      c AS (SELECT user_id, chunk AS cc, t AS ct FROM e
        WHERE event_id % 2 = 0),
      p AS (SELECT user_id AS pu, chunk AS pc, t AS pt FROM e
        WHERE event_id % 2 = 1),
      pairs AS (SELECT greatest(cc, pc) AS bid,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM c JOIN p ON c.user_id = pu
          AND pt >= ct AND pt <= ct + 1800
        GROUP BY 1),
      inp AS (SELECT chunk AS bid, CAST(2 * count(*) AS BIGINT) AS n_input
        FROM e GROUP BY 1),
      t AS (SELECT unnest(range(0, 4)) AS bid)
      SELECT t.bid AS batch_id, inp.n_input,
        coalesce(pairs.n_pairs, 0) AS n_pairs,
        t.bid >= 1 AS state_lt_input
      FROM t JOIN inp ON inp.bid = t.bid
        LEFT JOIN pairs ON pairs.bid = t.bid""")),


    // Stream-static join: the unbounded stream enriches against a
    // broadcast dimension (per-micro-batch hash join — the streaming J1).
    QueryDef("st_stream_static_join", (s, dir) => withStatePartitions(s, 8) {
      val dim = graft.core.Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))
      val q = EventStream.readEvents(s, dir)
        .withColumn("n_nationkey", col("user_id") % 25)
        .join(broadcast(dim), Seq("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_events"))
        .writeStream.format("memory")
        .queryName("graft_st_dim_join").outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_dim_join")
    }, Some("""SELECT n_name, count(*) AS n_events FROM events
      JOIN nation ON user_id % 25 = n_nationkey GROUP BY n_name""")),

    // Stream-stream interval join (click -> purchase attribution within
    // 30 min, per user), drained to completion == the batch self-join.
    QueryDef("st_stream_stream_join", (s, dir) => withStatePartitions(s, 8) {
      val ev = EventStream.readEvents(s, dir)
      val q = EventStream.clickToPurchase(
          ev.filter(col("event_type") === "click"),
          EventStream.readEvents(s, dir).filter(col("event_type") === "purchase"),
          windowMinutes = 30)
        .writeStream.format("memory")
        .queryName("graft_st_attrib").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_attrib")
    }, Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        c.user_id AS user_id
      FROM events c JOIN events p
        ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""")),

    // LEFT OUTER stream-stream interval join: clicks with no purchase in
    // the window emit NULL-extended rows — but only after the watermark
    // passes click_ts + window, so the stage includes far-future
    // sentinels for BOTH event types (the outer join's global watermark
    // is the minimum across its inputs) and one no-data batch flushes
    // every unmatched click. Oracle = the batch LEFT JOIN with the same
    // interval condition.
    QueryDef("st_stream_outer_join", (s, dir) => withStatePartitions(s, 8) {
      val stage = stageWithSentinel(s, dir, Seq("click", "purchase"))
      def side(tpe: String) = EventStream
        .readEvents(s, stage, globFilter = "*.parquet")
        .filter(col("event_type") === tpe)
      val q = EventStream.clickToPurchaseOuter(side("click"), side("purchase"),
          windowMinutes = 30)
        .writeStream.format("memory")
        .queryName("graft_st_outer").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_outer").filter(col("user_id") >= 0)
    }, Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        c.user_id AS user_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""")),

    // Streaming dedup drained to completion == batch dropDuplicates.
    QueryDef("st_dedup_stream", (s, dir) => withStatePartitions(s, 8) {
      val q = EventStream.dedupStream(EventStream.readEvents(s, dir),
          Seq("user_id"))
        .writeStream.format("memory")
        .queryName("graft_st_dedup").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_dedup")
        .groupBy("user_id").agg(count(lit(1)).as("n_kept"))
    }, Some("""SELECT user_id, count(*) AS n_kept FROM (
        SELECT DISTINCT user_id, ts FROM events) GROUP BY user_id""")),

    // Streaming session_window drained to completion: append mode emits a
    // session only once the watermark passes its END, so the stage
    // includes a far-future sentinel event and the post-batch watermark
    // jump flushes every tail session in one no-data batch (a live feed
    // advances naturally). Oracle = the batch session_window chain (w12),
    // real users only.
    QueryDef("st_session_window", (s, dir) => withStatePartitions(s, 8) {
      val stage = stageWithSentinel(s, dir, Seq("click"))
      val q = graft.streaming.EventStream.sessionWindowStats(
          graft.streaming.EventStream.readEvents(s, stage, globFilter = "*.parquet"))
        .writeStream.format("memory")
        .queryName("graft_st_session").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_session").filter(col("user_id") >= 0)
    }, Some("""WITH flagged AS (SELECT user_id, event_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
               ELSE 0 END AS gap_start
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (SELECT *, sum(gap_start) OVER (PARTITION BY user_id
          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM flagged)
      SELECT user_id, min(ts) AS session_start,
        max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
      FROM sess GROUP BY user_id, session_idx""")),

    // Custom-state sessionization (flatMapGroupsWithState, append mode):
    // within-batch gaps close sessions inline, the open tails close when
    // the staged sentinel's watermark jump fires their event-time timeout.
    // Drained-to-completion output == the batch gap sessionizer, which is
    // exactly what the oracle computes (exact integer-µs gap math on both
    // sides).
    QueryDef("st_custom_state", (s, dir) => withStatePartitions(s, 8) {
      val stage = stageWithSentinel(s, dir, Seq("click"))
      val q = EventStream.sessionizeClosed(
          EventStream.readEvents(s, stage, globFilter = "*.parquet")).toDF()
        .writeStream.format("memory")
        .queryName("graft_st_fmgs").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_fmgs").filter(col("userId") >= 0)
        .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
          round(col("durationSec") + lit(1e-9), 6).as("duration_sec"))
    }, Some("""WITH flagged AS (SELECT user_id, event_id, epoch_us(ts) AS us,
          CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
               THEN 1 ELSE 0 END AS gap_start
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (SELECT *, sum(gap_start) OVER (PARTITION BY user_id
          ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM flagged)
      SELECT user_id, count(*) AS n_events,
        round((max(us) - min(us)) / 1000000.0 + 1e-9, 6) AS duration_sec
      FROM sess GROUP BY user_id, session_idx""")),

    // TRUE per-key streaming dedup (dropDuplicatesWithinWatermark): the
    // survivor row is arrival-order-dependent, so the registered output is
    // the survivor-independent KEY SET, which the batch oracle recomputes
    // as a plain DISTINCT.
    // Streaming upsert into a warehouse table: the fixture is staged into
    // 4 files and drained one file per micro-batch, so the per-user stats
    // table is genuinely merged 4 times (combine: sum counts / max ts —
    // commutative, so batch order cannot matter). Drained-to-completion
    // table == the one-shot batch aggregate.
    QueryDef("st_incremental_upsert", (s, dir) => withStatePartitions(s, 8) {
      val table = "graft_stream_user_stats"
      graft.core.Materialize.dropWithLocation(s, table)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val stage = java.nio.file.Files.createTempDirectory("graft_st_ups")
      try {
        // plain read (no imposed schema): works against either fixture
        // ts encoding; the staged files inherit it and readEvents' probe
        // picks the matching conversion
        s.read.parquet(s"$dir/events.parquet")
          .repartition(4).write.mode("overwrite").parquet(stage.toString)
        val q = EventStream.upsertUserStats(
          EventStream.readEvents(s, stage.toString, globFilter = "*.parquet",
            maxFilesPerTrigger = 1), table)
        try q.processAllAvailable() finally q.stop()
      } finally graft.core.Materialize.deleteRecursively(stage)
      s.table(table).drop("__last_batch")
    }, Some("""SELECT user_id, count(*) AS n_events, max(ts) AS last_ts
      FROM events GROUP BY user_id""")),

    // Streaming corpus-dedup ingest (foreachBatch + accumulating
    // fingerprint table): the documents fixture is staged into 4
    // id-RANGE files drained one per micro-batch in id order (ascending
    // mtimes pin the file-source ordering), so first-arrival-wins
    // converges to the batch dedup's global min-id survivor set — which
    // is exactly what the oracle computes in one statement.
    QueryDef("st_dedup_ingest", (s, dir) => withStatePartitions(s, 4) {
      val table = "graft_stream_dedup_docs"
      graft.core.Materialize.dropWithLocation(s, table)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)))
      val stream = s.readStream.schema(DocChunkSchema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.CorpusIngest.dedupIngest(
        stream, "doc_id", "text", table)
      try q.processAllAvailable() finally q.stop()
      // the stream's clone did the appends; drop this session's stale
      // file-listing snapshot before the read-back
      s.catalog.refreshTable(table)
      s.table(table).select(col("doc_id"))
    }, Some("""SELECT min(doc_id) AS doc_id FROM (
        SELECT doc_id, array_to_string(list_filter(
          string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0), ' ')
          AS norm
        FROM documents)
      GROUP BY norm""")),

    // Streaming NEAR-dup ingest — the streaming twin of the daily
    // index-growth cycle (ext_dedup_index_growth): each micro-batch is
    // LSH-deduped against everything accepted so far, and the persisted
    // band/shingle index GROWS in place by the survivors. Chunks 1-3
    // carry tail-copies of earlier-chunk documents, so cross-batch drops
    // only happen because the index growth happened. The oracle unrolls
    // the four levels exactly: per level, exact-Jaccard drop vs the
    // accumulated accepted set, then the within-batch lower-id-dominator
    // rule over base-survivors (the same semantics
    // Dedup.incrementalNearDupIndexed implements with banded candidates).
    QueryDef("st_neardup_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_neardup"
      for (t <- Seq("_docs", "_bands", "_shingles"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      def quart(i: Int) = docs
        .filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)
      def chunk(i: Int) =
        if (i == 0) quart(0)
        else quart(i).unionByName(quart(i - 1)
          .filter(col("doc_id") % 5 === i)
          .select((col("doc_id") + i * 1000000L).as("doc_id"),
            concat(col("text"), lit(" dup marker tail")).as("text")))
      val stage = stageIdChunks(s, (0 until 4).map(chunk))
      val stream = s.readStream.schema(DocChunkSchema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.CorpusIngest.nearDupIngest(
        stream, "doc_id", "text", prefix, threshold = 0.5)
      try q.processAllAvailable() finally q.stop()
      graft.core.CacheRegistry.releaseAll()
      s.catalog.refreshTable(prefix + "_docs")
      s.table(prefix + "_docs")
        .select(col("doc_id"), col("__last_batch").as("batch"))
    }, Some(nearDupIngestOracle)),

    // Streaming EMBEDDING ingest (VectorIngest.embedIngest): vectors
    // arrive in four id-ordered micro-batches (chunks 1-3 carry
    // perturbed near-copies of earlier-chunk vectors), each batch drops
    // vectors with cosine >= 0.99 against an accepted same-LSH-bucket
    // vector, applies the within-batch lower-id-dominator rule, and
    // grows the bucket-keyed persisted index by the survivors — the
    // embedding-space twin of st_neardup_ingest. Cross-batch drops
    // happen only because the index growth happened; the oracle unrolls
    // the four levels with the same bucket criterion.
    QueryDef("st_embed_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_embed"
      for (t <- Seq("_ids", "_vecs"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val v = graft.core.Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.ext.Similarity.asDouble(col("embedding")).as("embedding"))
      val mx = v.agg(max(col("vec_id"))).head().getLong(0)
      val step = mx / 4 + 1
      def quart(i: Int) = v
        .filter(col("vec_id") >= i * step && col("vec_id") < (i + 1) * step)
      def chunk(i: Int) =
        if (i == 0) quart(0)
        else quart(i).unionByName(quart(i - 1)
          .filter(col("vec_id") % 5 === i)
          .select((col("vec_id") + i * 1000000L).as("vec_id"),
            concat(array(element_at(col("embedding"), 1) + lit(0.01)),
              slice(col("embedding"), 2, 63)).as("embedding")))
      val stage = stageIdChunks(s, (0 until 4).map(chunk))
      val stream = s.readStream.schema(VecChunkSchema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.VectorIngest.embedIngest(
        stream, "vec_id", "embedding", prefix, tau = 0.99, bits = 4)
      try q.processAllAvailable() finally q.stop()
      graft.core.CacheRegistry.releaseAll()
      s.catalog.refreshTable(prefix + "_ids")
      s.table(prefix + "_ids")
        .select(col("vec_id"), col("__last_batch").as("batch"))
    }, Some(embedIngestOracle)),

    // Streaming MINI-BATCH K-MEANS (Sculley WWW'10): each micro-batch is
    // assigned to the current centroids scan-only (the k×dim state rides
    // the projection as a literal — nothing shuffles for assignment),
    // then folded into the cumulative weighted mean; state history
    // appends per batch, the marks row is the replay watermark. The
    // drained state must equal the 4-step unrolled fold.
    QueryDef("st_kmeans_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_kmeans"
      for (t <- Seq("_state", "_marks"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val v = graft.core.Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.ext.Similarity.asDouble(col("embedding")).as("embedding"))
      val mx = v.agg(max(col("vec_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        v.filter(col("vec_id") >= i * step && col("vec_id") < (i + 1) * step)))
      val stream = s.readStream.schema(VecChunkSchema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.VectorIngest.kmeansIngest(
        stream, "vec_id", "embedding", prefix, k = 8)
      try q.processAllAvailable() finally q.stop()
      graft.core.CacheRegistry.releaseAll()
      s.catalog.refreshTable(prefix + "_state")
      s.catalog.refreshTable(prefix + "_marks")
      val last = graft.streaming.CorpusIngest.lastAppliedIn(s, prefix + "_marks")
      s.table(prefix + "_state").filter(col("__batch") === last).distinct()
        .select(col("cluster"), col("dim"), col("c"), col("cnt"))
    }, Some(kmeansIngestOracle(k = 8))),

    // Streaming BM25 postings-index ingest (SearchIngest.bm25Ingest):
    // the term-bucketed inverted index GROWS by each micro-batch's
    // postings — per-(doc, term) facts computed batch-locally, so
    // growth is a pure bucketed append and per-trigger work is
    // O(batch). Corpus stats accumulate as per-batch additive rows.
    // After the drain, a BM25 query against the GROWN index (query set
    // df-derived from the index itself) must equal the one-shot batch
    // build — the same oracle SQL as ext_bm25_topk.
    QueryDef("st_bm25_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_bm25"
      for (t <- Seq("_postings", "_stats"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)))
      val stream = s.readStream.schema(DocChunkSchema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.SearchIngest.bm25Ingest(
        stream, "doc_id", "text", prefix)
      try q.processAllAvailable() finally q.stop()
      graft.core.CacheRegistry.releaseAll()
      s.catalog.refreshTable(prefix + "_postings")
      s.catalog.refreshTable(prefix + "_stats")
      val postings = graft.streaming.SearchIngest.dedupedPostings(
        s.table(prefix + "_postings"))
      val stats = graft.streaming.SearchIngest.statsOf(s, prefix)
      val queries = graft.ext.Retrieval.dfDerivedQueriesFrom(
        postings.groupBy("term").agg(count(lit(1)).as("df")),
        n = 4, perQuery = 3)
      graft.ext.Retrieval.bm25TopKIndexed(postings, stats, queries, k = 5)
    }, Some(s"""WITH toks AS (SELECT doc_id, unnest(${ExtQueries.DuckToks}) AS term
          FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
      dl AS (SELECT *, sum(tc) OVER (PARTITION BY doc_id) AS dl FROM tf),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          sum(tc) AS n_tokens FROM tf),
      qt AS (SELECT CAST((rnk - 11) // 3 AS BIGINT) AS query_id, term, df
        FROM (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
        WHERE rnk BETWEEN 11 AND 22),
      scored AS (SELECT qt.query_id, dl.doc_id,
          round(sum(
            ln(1 + (n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
            (tc * 2.2) /
            (tc + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(n_tokens AS DOUBLE)))
          ) + 1e-9, 6) AS score
        FROM dl JOIN qt USING (term) CROSS JOIN stats GROUP BY 1, 2),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS rn FROM scored)
      SELECT query_id, doc_id, score FROM ranked WHERE rn <= 5""")),

    // Streaming CLASSIFIER training (ClassifierIngest): the labeled
    // corpus drains in four batches and each batch continues the batch
    // perceptron from the carried weights for 4 rounds — an all-integer
    // trajectory, so the oracle unrolls batches x rounds with no
    // rounding convention anywhere. Weight history appends per batch
    // (audit-ready); output = the final weight vector.
    QueryDef("st_classifier_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_clf"
      for (t <- Seq("_weights", "_marks"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val feats = ExtQueries.classifierFixture(s, dir)
      val stage = stageIdChunks(s, (0 until 4).map(b =>
        feats.filter((col("doc_id") % 100000) % 4 === b)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("buckets",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType)),
        org.apache.spark.sql.types.StructField("y",
          org.apache.spark.sql.types.LongType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.ClassifierIngest.classifierIngest(
        stream, "buckets", "y", prefix, numBuckets = 64, roundsPerBatch = 4)
      try q.processAllAvailable() finally q.stop()
      graft.core.CacheRegistry.releaseAll()
      s.catalog.refreshTable(prefix + "_weights")
      s.catalog.refreshTable(prefix + "_marks")
      val last = graft.streaming.CorpusIngest.lastAppliedIn(s, prefix + "_marks")
      s.table(prefix + "_weights").filter(col("__batch") === last).distinct()
        .select(col("bucket"), col("weight"))
    }, Some(s"""WITH ${ExtQueries.duckPerceptronChained(batches = 4,
        roundsPerBatch = 4, numBuckets = 64,
        batchWhere = b => s"(doc_id % 100000) % 4 = $b")}
      SELECT bucket, w AS weight FROM qw16
      UNION ALL SELECT CAST(-1 AS BIGINT) AS bucket, bias AS weight FROM qb16""")),

    // Streaming MULTIMODAL ingest (MediaIngest.mediaIngest): binary
    // payload chunks drain one per micro-batch, metadata extraction is
    // batch-local, and the typed metadata table grows by appends —
    // payloads are read exactly once. Drained metadata == the batch
    // extraction (ext_mm_media_meta's oracle).
    QueryDef("st_mm_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_mm"
      for (t <- Seq("_meta", "_marks"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.MediaIngest.mediaIngest(
        stream, "doc_id", "payload",
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")),
        prefix)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_meta")
      graft.streaming.MediaIngest.dedupedMeta(s.table(prefix + "_meta"))
    }, Some("""SELECT doc_id AS media_id,
        (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents""")),

    // The DAILY CURATION CHAIN as a continuous stream: Gopher gates per
    // micro-batch, then near-dup ingest against the growing accepted
    // index, survivors labeled with their deterministic hash split —
    // the streaming twin of ext_curation_incremental over the same
    // chunked feed as st_neardup_ingest.
    QueryDef("st_curation_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_curation"
      for (t <- Seq("_docs", "_bands", "_shingles"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      def quart(i: Int) = docs
        .filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)
      def chunk(i: Int) =
        if (i == 0) quart(0)
        else quart(i).unionByName(quart(i - 1)
          .filter(col("doc_id") % 5 === i)
          .select((col("doc_id") + i * 1000000L).as("doc_id"),
            concat(col("text"), lit(" dup marker tail")).as("text")))
      val stage = stageIdChunks(s, (0 until 4).map(chunk))
      val stream = s.readStream.schema(DocChunkSchema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.CorpusIngest.curationIngest(
        stream, "doc_id", "text", prefix, threshold = 0.5)
      try q.processAllAvailable() finally q.stop()
      graft.core.CacheRegistry.releaseAll()
      s.catalog.refreshTable(prefix + "_docs")
      s.table(prefix + "_docs")
        .select(col("doc_id"), col("__last_batch").as("batch"),
          graft.ext.Corpus.hashSplit(col("doc_id")).as("split"))
    }, Some(curationIngestOracle)),

    QueryDef("st_dedup_bykey", (s, dir) => withStatePartitions(s, 8) {
      val q = EventStream.dedupStreamByKey(EventStream.readEvents(s, dir),
          Seq("user_id"))
        .writeStream.format("memory")
        .queryName("graft_st_dedup_bykey").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("graft_st_dedup_bykey").select("user_id").distinct()
    }, Some("SELECT DISTINCT user_id FROM events")),


    // Streaming PSI drift monitor: four id-chunks of the corpus drain
    // one per trigger, each scored against the PINNED full-corpus
    // n_chars distribution — one (batch_id, psi, n_rows) row appended
    // per trigger, replay-guarded. The oracle recomputes each chunk's
    // PSI against the same reference, chunk by chunk.
    QueryDef("st_drift_monitor", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_drift"
      graft.core.Materialize.dropWithLocation(s, prefix + "_psi")
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.DriftMonitor.psiIngest(
        stream, docs, "n_chars", binWidth = 500.0, prefix)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_psi")
      s.table(prefix + "_psi")
    }, Some {
      val chunks = (0 until 4).map { i =>
        s"""c$i AS (SELECT CAST(floor(n_chars / 500.0) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n_new
           FROM docs CROSS JOIN mxs
           WHERE doc_id >= $i * step AND doc_id < ${i + 1} * step
           GROUP BY 1),
         j$i AS (SELECT coalesce(o.bin, c$i.bin) AS bin,
             coalesce(o.n_old, 0) AS n_old, coalesce(c$i.n_new, 0) AS n_new
           FROM o FULL OUTER JOIN c$i ON o.bin = c$i.bin),
         t$i AS (SELECT CAST(sum(n_old) AS DOUBLE) AS do_,
             CAST(sum(n_new) AS DOUBLE) AS dn FROM j$i),
         p$i AS (SELECT round(sum(round(
               (n_new / dn + 1e-6 - (n_old / do_ + 1e-6))
               * ln((n_new / dn + 1e-6) / (n_old / do_ + 1e-6)) + 1e-9, 6))
             + 1e-9, 6) AS psi,
             (SELECT CAST(coalesce(sum(n_new), 0) AS BIGINT) FROM c$i)
               AS n_rows
           FROM j$i CROSS JOIN t$i),
         k$i AS (SELECT max(round(abs(co - cn) + 1e-9, 6)) AS ks FROM (
             SELECT round(sum(n_old) OVER (ORDER BY bin
                 ROWS UNBOUNDED PRECEDING) / do_ + 1e-9, 6) AS co,
               round(sum(n_new) OVER (ORDER BY bin
                 ROWS UNBOUNDED PRECEDING) / dn + 1e-9, 6) AS cn
             FROM j$i CROSS JOIN t$i))"""
      }.mkString(",\n      ")
      s"""WITH docs AS (SELECT doc_id, n_chars FROM documents),
        mxs AS (SELECT max(doc_id) // 4 + 1 AS step FROM docs),
        o AS (SELECT CAST(floor(n_chars / 500.0) AS BIGINT) AS bin,
            CAST(count(*) AS BIGINT) AS n_old FROM docs GROUP BY 1),
        $chunks
      ${(0 until 4).map(i =>
        s"SELECT CAST($i AS BIGINT) AS batch_id, psi, ks, n_rows " +
          s"FROM p$i CROSS JOIN k$i")
        .mkString("\n      UNION ALL ")}"""
    }),


    // Streaming drift monitor with WINDOWED RE-BASELINING (r11): the
    // reference swaps every 2 triggers — batches 0-1 score against the
    // pinned full-corpus baseline, batches 2-3 against the bins of
    // window 0 (batches 0+1), all derived from the committed bins table
    // so the trajectory replays deterministically. The oracle replays
    // every chunk against ITS reference and recomputes psi/ks from raw
    // counts on both sides of the swap; ref_window pins which baseline
    // scored each row.
    QueryDef("st_drift_rebaseline", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_driftrb"
      graft.core.Materialize.dropWithLocation(s, prefix + "_psi")
      graft.core.Materialize.dropWithLocation(s, prefix + "_psi_bins")
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.DriftMonitor.psiRebaselineIngest(
        stream, docs, "n_chars", binWidth = 500.0, prefix,
        rebaselineEvery = 2)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_psi")
      s.table(prefix + "_psi")
    }, Some {
      val chunks = (0 until 4).map { i =>
        s"""c$i AS (SELECT CAST(floor(n_chars / 500.0) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n_new
           FROM docs CROSS JOIN mxs
           WHERE doc_id >= $i * step AND doc_id < ${i + 1} * step
           GROUP BY 1)"""
      }.mkString(",\n      ")
      val scored = (0 until 4).map { i =>
        val refCte = if (i < 2) "o" else "o01"
        s"""j$i AS (SELECT coalesce(r.bin, c$i.bin) AS bin,
             coalesce(r.n_old, 0) AS n_old, coalesce(c$i.n_new, 0) AS n_new
           FROM $refCte r FULL OUTER JOIN c$i ON r.bin = c$i.bin),
         t$i AS (SELECT CAST(sum(n_old) AS DOUBLE) AS do_,
             CAST(sum(n_new) AS DOUBLE) AS dn FROM j$i),
         p$i AS (SELECT round(sum(round(
               (n_new / dn + 1e-6 - (n_old / do_ + 1e-6))
               * ln((n_new / dn + 1e-6) / (n_old / do_ + 1e-6)) + 1e-9, 6))
             + 1e-9, 6) AS psi,
             (SELECT CAST(coalesce(sum(n_new), 0) AS BIGINT) FROM c$i)
               AS n_rows
           FROM j$i CROSS JOIN t$i),
         k$i AS (SELECT max(round(abs(co - cn) + 1e-9, 6)) AS ks FROM (
             SELECT round(sum(n_old) OVER (ORDER BY bin
                 ROWS UNBOUNDED PRECEDING) / do_ + 1e-9, 6) AS co,
               round(sum(n_new) OVER (ORDER BY bin
                 ROWS UNBOUNDED PRECEDING) / dn + 1e-9, 6) AS cn
             FROM j$i CROSS JOIN t$i))"""
      }.mkString(",\n      ")
      s"""WITH docs AS (SELECT doc_id, n_chars FROM documents),
        mxs AS (SELECT max(doc_id) // 4 + 1 AS step FROM docs),
        o AS (SELECT CAST(floor(n_chars / 500.0) AS BIGINT) AS bin,
            CAST(count(*) AS BIGINT) AS n_old FROM docs GROUP BY 1),
        $chunks,
        o01 AS (SELECT bin, CAST(sum(n_new) AS BIGINT) AS n_old FROM (
            SELECT * FROM c0 UNION ALL SELECT * FROM c1) GROUP BY bin),
        $scored
      ${(0 until 4).map(i =>
        s"SELECT CAST($i AS BIGINT) AS batch_id, " +
          s"CAST(${if (i < 2) -1 else 0} AS BIGINT) AS ref_window, " +
          s"psi, ks, n_rows FROM p$i CROSS JOIN k$i")
        .mkString("\n      UNION ALL ")}"""
    }),


    // Streaming HLL cardinality monitor: each micro-batch's distinct
    // 3-shingles fold into the standing per-source register table
    // (append-only, max-collapse — replay-IDEMPOTENT by construction)
    // and one estimate row per source is appended per trigger. The
    // oracle replays the cumulative register state after every chunk:
    // batch k's estimates must equal a one-shot HLL over chunks 0..k —
    // the cross-batch mergeability contract, trigger by trigger.
    QueryDef("st_hll_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_hll"
      for (t <- Seq("_hll_regs", "_hll_est"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(col("source"),
          explode(graft.ext.TextOps.stringShingles(col("text"), 3)).as("term"))
      val q = graft.streaming.SketchIngest.hllIngest(
        stream, "term", "source", prefix)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_hll_est")
      s.table(prefix + "_hll_est")
        .select(col("batch_id"), col("source"), col("est"), col("n_new"))
    }, Some(s"""WITH mxs AS (SELECT max(doc_id) // 4 + 1 AS step FROM documents),
      sh AS (SELECT doc_id // step AS chunk, source,
          unnest(list_distinct(list_transform(range(1, len(toks) - 1),
            i -> array_to_string(toks[i:i+2], ' ')))) AS term
        FROM (SELECT doc_id, source, list_filter(
            string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0)
            AS toks FROM documents)
          CROSS JOIN mxs),
      h AS (SELECT chunk, source, term,
          ((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1)) % 64
            AS reg,
          CASE WHEN length(regexp_extract(substr(md5(term), 3, 8), '^(0*)', 1)) = 8
            THEN 33
            ELSE length(regexp_extract(substr(md5(term), 3, 8), '^(0*)', 1)) * 4
              + CASE substr(substr(md5(term), 3, 8),
                  length(regexp_extract(substr(md5(term), 3, 8), '^(0*)', 1)) + 1, 1)
                WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                ELSE 0 END + 1 END AS rho
        FROM sh),
      ck AS (SELECT r.k, source, reg, max(rho) AS rho
        FROM h JOIN range(0, 4) r(k) ON h.chunk <= r.k
        GROUP BY 1, 2, 3),
      agg AS (SELECT k, source, sum(pow(2.0, -rho)) AS hsum,
          CAST(count(*) AS BIGINT) AS hit FROM ck GROUP BY 1, 2),
      est AS (SELECT k, source,
          round(CASE WHEN (0.709 * 4096) / (hsum + (64 - hit)) <= 160.0
              AND hit < 64
            THEN 64.0 * ln(64.0 / (64 - hit))
            ELSE (0.709 * 4096) / (hsum + (64 - hit)) END + 1e-9, 6) AS est
        FROM agg),
      nn AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n_new FROM sh
        GROUP BY 1)
      SELECT CAST(est.k AS BIGINT) AS batch_id, est.source, est.est, nn.n_new
      FROM est JOIN nn ON nn.chunk = est.k""")),


    // Streaming KMV set-cardinality monitor: each micro-batch's shingle
    // keys fold into a standing bottom-k hash table per source (KMV is
    // closed under union — appends collapse in DISTINCT + re-rank, so
    // replay is idempotent with NO guard on the state table), and one
    // estimate row per source is appended per trigger. Unlike the HLL
    // twin the standing state also answers cross-source INTERSECTION /
    // Jaccard after the fact (ext_kmv_setops machinery). compactEvery=2
    // exercises the in-trigger compaction cadence ON the oracle path:
    // bottom-k(compacted ∪ new) = bottom-k(all appends), so the
    // trajectory is provably unchanged — the oracle replays the
    // cumulative bottom-64 after every chunk and every estimate row
    // must hash-match bit-identically anyway.
    QueryDef("st_kmv_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_kmv"
      for (t <- Seq("_kmv_hashes", "_kmv_est"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(col("source"),
          explode(graft.ext.TextOps.stringShingles(col("text"), 3)).as("term"))
      val q = graft.streaming.SketchIngest.kmvIngest(
        stream, "term", "source", prefix, k = 64, compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_kmv_est")
      s.table(prefix + "_kmv_est")
        .select(col("batch_id"), col("source"), col("est"), col("n_new"))
    }, Some(s"""WITH mxs AS (SELECT max(doc_id) // 4 + 1 AS step FROM documents),
      sh AS (SELECT doc_id // step AS chunk, source,
          unnest(list_distinct(list_transform(range(1, len(toks) - 1),
            i -> array_to_string(toks[i:i+2], ' ')))) AS term
        FROM (SELECT doc_id, source, list_filter(
            string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0)
            AS toks FROM documents)
          CROSS JOIN mxs),
      h AS (SELECT chunk, source, substr(md5(term), 1, 12) AS hash FROM sh),
      ck AS (SELECT r.k AS bid, source, hash FROM h
        JOIN range(0, 4) r(k) ON h.chunk <= r.k GROUP BY 1, 2, 3),
      rk AS (SELECT bid, source, hash, row_number()
          OVER (PARTITION BY bid, source ORDER BY hash) AS rn FROM ck),
      sm AS (SELECT bid, source, count(*) AS n, max(hash) AS kth
        FROM rk WHERE rn <= 64 GROUP BY 1, 2),
      est AS (SELECT bid, source,
          round(CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
            ELSE 63::DOUBLE * 281474976710656::DOUBLE / ('0x' || kth)::BIGINT END
            + 1e-9, 6) AS est FROM sm),
      nn AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n_new FROM sh
        GROUP BY 1)
      SELECT CAST(est.bid AS BIGINT) AS batch_id, est.source, est.est,
        nn.n_new
      FROM est JOIN nn ON nn.chunk = est.bid""")),


    // Streaming RANK-error quantile monitor: each micro-batch folds its
    // bottom-k-by-hash (hash, value) sample per event type into a
    // standing sample table (QuantileSketch — closed under union, so
    // appends collapse in DISTINCT + re-rank and replay is idempotent
    // with NO guard on the state table), and one p50/p90 estimate row
    // per group is appended per trigger. Unlike st_hist_quantile there
    // is no domain-width knob: the error bound is DKW rank-based,
    // and the ESTIMATE itself is deterministic (md5 membership), so the
    // oracle replays the cumulative bottom-64 sample after every chunk
    // and every estimate row must hash-match bit-identically.
    // compactEvery=2 exercises the in-trigger compaction cadence ON the
    // oracle path: bottom-k(compacted ∪ new) = bottom-k(all appends),
    // so the trajectory is provably unchanged.
    QueryDef("st_kll_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_qsk"
      for (t <- Seq("_qsk_sample", "_qsk_q"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"))
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        ev.filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.SketchIngest.qskIngest(
        stream, "event_id", "value", "event_type", prefix, k = 64,
        compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_qsk_q")
      s.table(prefix + "_qsk_q")
        .select(col("batch_id"), col("event_type"), col("m"),
          col("p50"), col("p90"), col("n_new"))
    }, Some("""WITH mxs AS (SELECT max(event_id) // 4 + 1 AS step FROM events),
      ev AS (SELECT event_id // step AS chunk, event_type,
          substr(md5(CAST(event_id AS VARCHAR)), 1, 12) AS hash,
          CAST(value AS DOUBLE) AS val
        FROM events CROSS JOIN mxs WHERE value IS NOT NULL),
      ck AS (SELECT DISTINCT r.k AS bid, event_type, hash, val FROM ev
        JOIN range(0, 4) r(k) ON ev.chunk <= r.k),
      rk AS (SELECT bid, event_type, hash, val, row_number()
          OVER (PARTITION BY bid, event_type ORDER BY hash, val) AS rn
        FROM ck),
      sm AS (SELECT bid, event_type, val,
          row_number() OVER (PARTITION BY bid, event_type
            ORDER BY val, hash) AS vrank,
          count(*) OVER (PARTITION BY bid, event_type) AS m
        FROM rk WHERE rn <= 64),
      est AS (SELECT bid, event_type, CAST(max(m) AS BIGINT) AS m,
          round(min(CASE WHEN vrank >= 0.5 * m THEN val END) + 1e-9, 6)
            AS p50,
          round(min(CASE WHEN vrank >= 0.9 * m THEN val END) + 1e-9, 6)
            AS p90
        FROM sm GROUP BY 1, 2),
      nn AS (SELECT event_id // step AS chunk,
          CAST(count(*) AS BIGINT) AS n_new
        FROM events CROSS JOIN mxs GROUP BY 1)
      SELECT CAST(est.bid AS BIGINT) AS batch_id, est.event_type, est.m,
        est.p50, est.p90, nn.n_new
      FROM est JOIN nn ON nn.chunk = est.bid""")),


    // Streaming QUANTILE monitor: per-trigger p50/p90/p99 trajectory of
    // the value distribution per event type, off a standing fixed-grid
    // histogram (bucket = ⌊value/8⌋) — the mergeable-quantile posture
    // where state is O(groups × buckets) forever and every estimate is
    // exact integer arithmetic (bucket lower edges, cum·100 ≥ q·n), so
    // the oracle replays the whole trajectory bit-identically — no
    // interpolating-sketch merge-order ambiguity. compactEvery=2
    // exercises the count-table compaction mid-run; the trajectory must
    // hash-match the uncompacted replay anyway.
    QueryDef("st_hist_quantile", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_hq"
      for (t <- Seq("_hist_cnt", "_hist_q"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"))
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        ev.filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.SketchIngest.histQuantileIngest(
        stream, "value", "event_type", prefix, width = 8d,
        compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_hist_q")
      s.table(prefix + "_hist_q")
        .select(col("batch_id"), col("event_type"), col("n"),
          col("p50"), col("p90"), col("p99"))
    }, Some("""WITH mxs AS (SELECT max(event_id) // 4 + 1 AS step FROM events),
      ev AS (SELECT event_id // step AS chunk, event_type, value
        FROM events CROSS JOIN mxs WHERE value IS NOT NULL),
      bk AS (SELECT r.k AS bid, event_type,
          CAST(floor(value / 8.0) AS BIGINT) AS bucket,
          CAST(count(*) AS BIGINT) AS cnt
        FROM ev JOIN range(0, 4) r(k) ON ev.chunk <= r.k GROUP BY 1, 2, 3),
      c AS (SELECT bid, event_type, bucket, cnt,
          sum(cnt) OVER (PARTITION BY bid, event_type ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          sum(cnt) OVER (PARTITION BY bid, event_type) AS n
        FROM bk)
      SELECT CAST(bid AS BIGINT) AS batch_id, event_type,
        CAST(max(n) AS BIGINT) AS n,
        CAST(min(CASE WHEN cum * 100 >= 50 * n THEN bucket END)
          AS DOUBLE) * 8 AS p50,
        CAST(min(CASE WHEN cum * 100 >= 90 * n THEN bucket END)
          AS DOUBLE) * 8 AS p90,
        CAST(min(CASE WHEN cum * 100 >= 99 * n THEN bucket END)
          AS DOUBLE) * 8 AS p99
      FROM c GROUP BY 1, 2""")),


    // Streaming CUSUM shift monitor: the SEQUENTIAL drift statistic as
    // a standing monitor — state is per-(type, day) sufficient stats
    // (integer micro-unit sum + count, bounded by calendar × groups,
    // mergeable by addition), and every trigger re-derives the full
    // trajectory from the collapsed dailies in one days-sized window
    // pass. The oracle replays all four trigger prefixes chunk-by-chunk
    // — per-day means are exact-integer-derived doubles, so only the
    // group mean sees summation-order ulps, absorbed by round(6).
    // compactEvery=2 puts the daily-table fold ON the oracle path.
    QueryDef("st_cusum_monitor", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_cusum"
      for (t <- Seq("_cusum_daily", "_cusum_traj"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val ev = graft.core.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          to_date(col("ts")).as("day"), col("value"))
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        ev.filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("day",
          org.apache.spark.sql.types.DateType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.SketchIngest.cusumIngest(
        stream, "value", "day", "event_type", prefix, slack = 2d,
        compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_cusum_traj")
      s.table(prefix + "_cusum_traj")
        .select(col("batch_id"), col("event_type"), col("n_days"),
          col("max_up"), col("max_dn"))
    }, Some("""WITH mxs AS (SELECT max(event_id) // 4 + 1 AS step FROM events),
      ev AS (SELECT event_id // step AS chunk, event_type,
          CAST(ts AS DATE) AS day,
          CAST(floor(value * 1e6) AS BIGINT) AS vmic
        FROM events CROSS JOIN mxs WHERE value IS NOT NULL),
      d AS (SELECT r.k AS bid, event_type, day,
          CAST(sum(vmic) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
        FROM ev JOIN range(0, 4) r(k) ON ev.chunk <= r.k GROUP BY 1, 2, 3),
      x AS (SELECT bid, event_type, day,
          CAST(s AS DOUBLE) / 1e6 / c AS x FROM d),
      m AS (SELECT bid, event_type, avg(x) AS mu FROM x GROUP BY 1, 2),
      p AS (SELECT x.bid, x.event_type, day, x.x,
          sum(x.x - mu - 2.0) OVER w AS p_up,
          sum(x.x - mu + 2.0) OVER w AS p_dn
        FROM x JOIN m ON x.bid = m.bid AND x.event_type = m.event_type
        WINDOW w AS (PARTITION BY x.bid, x.event_type ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      sc AS (SELECT bid, event_type,
          p_up - least(min(p_up) OVER w2, 0.0) AS up,
          greatest(max(p_dn) OVER w2, 0.0) - p_dn AS dn
        FROM p WINDOW w2 AS (PARTITION BY bid, event_type ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT CAST(bid AS BIGINT) AS batch_id, event_type,
        CAST(count(*) AS BIGINT) AS n_days,
        round(max(up) + 1e-9, 6) AS max_up,
        round(max(dn) + 1e-9, 6) AS max_dn
      FROM sc GROUP BY 1, 2""")),


    // Streaming Bloom novelty gate: each micro-batch's (user, event
    // type) keys are flagged novel (first contact — certain) or
    // probably-seen (Bloom membership — FPs possible, never FNs)
    // against a standing ≤ m-row position table; state never holds the
    // key universe. Positions carry batch provenance so the probe's
    // batch_id < b filter is crash-replay deterministic. The oracle
    // rebuilds the identical md5 bit set per chunk, so every flag —
    // including the filter's actual false positives — matches exactly.
    QueryDef("st_bloom_novelty", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_bloom"
      for (t <- Seq("_bloom_pos", "_bloom_novel"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        ev.filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(concat(lit("u"), col("user_id").cast("string"),
          lit(":"), col("event_type")).as("key"))
      val q = graft.streaming.SketchIngest.bloomNoveltyIngest(
        stream, "key", prefix, k = 4, m = 4096)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_bloom_novel")
      s.table(prefix + "_bloom_novel")
        .select(col("batch_id"), col("key"), col("novel"))
    }, Some("""WITH mxs AS (SELECT max(event_id) // 4 + 1 AS step FROM events),
      ks AS (SELECT DISTINCT event_id // step AS chunk,
          'u' || CAST(user_id AS VARCHAR) || ':' || event_type AS key
        FROM events CROSS JOIN mxs),
      js AS (SELECT CAST(x AS INTEGER) AS j FROM range(0, 4) r(x)),
      pp AS (SELECT chunk, key,
          ((strpos('0123456789abcdef', substr(md5(j || ':' || key), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(j || ':' || key), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(j || ':' || key), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(j || ':' || key), 4, 1)) - 1)) % 4096
            AS pos
        FROM ks CROSS JOIN js),
      prior AS (SELECT DISTINCT r.c AS chunk, pos
        FROM pp JOIN range(0, 4) r(c) ON pp.chunk < r.c),
      hits AS (SELECT p.chunk, p.key, CAST(count(*) AS BIGINT) AS c
        FROM pp p JOIN prior pr ON pr.chunk = p.chunk AND pr.pos = p.pos
        GROUP BY 1, 2)
      SELECT CAST(k.chunk AS BIGINT) AS batch_id, k.key,
        coalesce(h.c, 0) <> 4 AS novel
      FROM ks k LEFT JOIN hits h ON h.chunk = k.chunk AND h.key = k.key""")),


    // Streaming CMS frequency monitor — the Count-Min side of the
    // sketch trio: per-trigger token counts fold into a standing d×w
    // bucket table (append-only with batch provenance, dedupe-then-sum
    // collapse) and the tracked heavy-hitter candidates (union of
    // batch-local top-5s) get one point-estimate row per trigger. The
    // oracle replays the cumulative buckets after every chunk — every
    // estimate, including any hash-collision overcount, matches because
    // both engines derive the same md5 buckets.
    QueryDef("st_cms_ingest", (s, dir) => withStatePartitions(s, 4) {
      val prefix = "graft_stream_cms"
      for (t <- Seq("_cms_cnt", "_cms_cand", "_cms_est"))
        graft.core.Materialize.dropWithLocation(s, prefix + t)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = mx / 4 + 1
      val stage = stageIdChunks(s, (0 until 4).map(i =>
        docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(explode(graft.ext.TextOps.tokens(lower(col("text"))))
          .as("term"))
      val q = graft.streaming.SketchIngest.cmsIngest(
        stream, "term", prefix, d = 4, w = 64, topN = 5)
      try q.processAllAvailable() finally q.stop()
      s.catalog.refreshTable(prefix + "_cms_est")
      s.table(prefix + "_cms_est")
        .select(col("batch_id"), col("key"), col("est"))
    }, Some(s"""WITH mxs AS (SELECT max(doc_id) // 4 + 1 AS step FROM documents),
      tk AS (SELECT doc_id // step AS chunk, unnest(${ExtQueries.DuckToks}) AS term
        FROM documents CROSS JOIN mxs),
      tc AS (SELECT chunk, term, CAST(count(*) AS BIGINT) AS cnt
        FROM tk GROUP BY 1, 2),
      cand0 AS (SELECT chunk, term FROM (SELECT chunk, term,
          row_number() OVER (PARTITION BY chunk
            ORDER BY cnt DESC, term) AS rn FROM tc)
        WHERE rn <= 5),
      js AS (SELECT CAST(x AS INTEGER) AS j FROM range(0, 4) r(x)),
      bkt AS (SELECT chunk, j,
          ((strpos('0123456789abcdef', substr(md5(j || ':' || term), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(j || ':' || term), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(j || ':' || term), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(j || ':' || term), 4, 1)) - 1)) % 64
            AS pos, cnt
        FROM tc CROSS JOIN js),
      cum AS (SELECT r.b AS b, j, pos, CAST(sum(cnt) AS BIGINT) AS cnt
        FROM bkt JOIN range(0, 4) r(b) ON bkt.chunk <= r.b
        GROUP BY 1, 2, 3),
      cand AS (SELECT DISTINCT r.b AS b, term
        FROM cand0 JOIN range(0, 4) r(b) ON cand0.chunk <= r.b),
      pe AS (SELECT c.b, c.term, js.j,
          ((strpos('0123456789abcdef', substr(md5(js.j || ':' || c.term), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(js.j || ':' || c.term), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(js.j || ':' || c.term), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(js.j || ':' || c.term), 4, 1)) - 1)) % 64
            AS pos
        FROM cand c CROSS JOIN js)
      SELECT CAST(pe.b AS BIGINT) AS batch_id, pe.term AS key,
        CAST(min(coalesce(cum.cnt, 0)) AS BIGINT) AS est
      FROM pe LEFT JOIN cum ON cum.b = pe.b AND cum.j = pe.j
        AND cum.pos = pe.pos
      GROUP BY 1, 2"""))
  )
}
