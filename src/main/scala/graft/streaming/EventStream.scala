package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/**
 * Structured Streaming surface (extension — the reference is batch-only,
 * SURVEY §2.9; its closest analogue is scheduled micro-batch `@monthly`
 * DAGs, `1_AWS/README.md:43`). The same event-shaped feed the batch
 * pipelines read is exposed as an unbounded stream: file-source →
 * event-time windowed aggregates with watermarking → sinks, plus
 * mapGroupsWithState sessionization for custom state.
 *
 * Scale notes:
 *  - The file source lists + splits like the batch reader; each
 *    micro-batch is a normal Spark job, so every batch operator here
 *    (filters, broadcast joins, window aggs) keeps its batch plan shape.
 *  - Watermarks bound state: windowed aggregates drop state older than
 *    the watermark; sessionization uses event-time timeouts for the same
 *    reason. Without them, 100 TB of history = unbounded state store.
 */
object EventStream {

  /** Logical schema of the raw events feed as the current fixtures encode
    * it: `ts` is TIMESTAMP(MICROS) without a UTC flag, which Spark
    * surfaces as TIMESTAMP_NTZ. Stage-writers (tests, sentinel files) use
    * this schema so every file in a staged directory agrees on the `ts`
    * physical type. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over an events-shaped parquet directory.
    * `maxFilesPerTrigger <= 0` (default) puts every available file in one
    * micro-batch — the bulk-drain shape; a positive value throttles to
    * that many files per trigger (the live-feed shape, and what tests use
    * to force multi-batch execution).
    *
    * A streaming source needs its schema up front, but the fixtures have
    * shipped `ts` as both INT64 nanos and TIMESTAMP(MICROS) across
    * generations (see [[graft.core.Tables]]). A caller that wrote the
    * directory itself passes the `ts` type it wrote as `tsType`; otherwise
    * one batch footer probe (a Spark job) resolves the actual physical
    * type. Either way the stream normalizes to the same TimestampType
    * contract the batch loader provides. */
  def readEvents(spark: SparkSession, dir: String,
                 globFilter: String = "events.parquet",
                 maxFilesPerTrigger: Int = 0,
                 tsType: Option[DataType] = None): DataFrame = {
    // An empty landing directory (live-feed start before the first file
    // arrives) has nothing to probe — fall back to the current fixture
    // generation's encoding (rawSchema, NTZ). The probe pins ts's
    // physical type from the first listing; a directory must not mix
    // encodings across its lifetime (stage-writers use rawSchema for
    // exactly this reason).
    val ts = tsType.getOrElse(try {
      spark.read.option("pathGlobFilter", globFilter)
        .parquet(dir).schema("ts").dataType
    } catch {
      case _: org.apache.spark.sql.AnalysisException =>
        rawSchema("ts").dataType
    })
    val schema = StructType(rawSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = ts) else f))
    val r = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", globFilter)
    val r2 = if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r
    val tsFixed = ts match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast(TimestampType)
    }
    r2.parquet(dir).withColumn("ts", tsFixed)
  }

  /**
   * Event-time windowed counts/means per event type with a watermark
   * bounding aggregation state (SURVEY §2.9 extension; the streaming
   * analogue of the hourly batch aggregates, reference
   * `5_dbt/READ.md:398-413`).
   */
  def windowedStats(events: DataFrame, windowLen: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        avg(col("value")).as("avg_value"),
        max(col("value")).as("max_value"))

  /** Session state carried between micro-batches. */
  final case class SessionState(nEvents: Long, firstTs: Long, lastTs: Long)
  final case class SessionOut(userId: Long, nEvents: Long, durationSec: Double,
                              closed: Boolean)
  final case class Evt(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String)

  /**
   * Per-user sessionization via mapGroupsWithState (custom state that
   * windowed aggregation can't express): a session closes after
   * `gapMinutes` of event-time silence, enforced with an event-time
   * timeout so state is bounded by the watermark.
   */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 watermark: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermark).as[Evt]
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evts: Iterator[Evt], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(userId, s.nEvents, (s.lastTs - s.firstTs) / 1e6, closed = true)
          } else {
            val times = evts.map(_.ts.getTime * 1000L).toArray
            val prev = state.getOption.getOrElse(
              SessionState(0L, times.min, times.min))
            val next = SessionState(prev.nEvents + times.length,
              math.min(prev.firstTs, times.min), math.max(prev.lastTs, times.max))
            state.update(next)
            state.setTimeoutTimestamp(next.lastTs / 1000L + gapMinutes * 60000L)
            SessionOut(userId, next.nEvents, (next.lastTs - next.firstTs) / 1e6,
              closed = false)
          }
      }
  }

  /** Exact event-time microseconds of a Timestamp (getTime alone is
    * millisecond-truncated; the fixture has real µs components and the
    * batch oracle compares at µs grain). */
  private def microsOf(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /**
   * Closed-session emitter via flatMapGroupsWithState: emits a session
   * record ONLY when it closes — either a gap WITHIN the batch's sorted
   * event times (a batch can carry many sessions of one user) or the
   * event-time gap timeout firing for the open tail (zero or more
   * outputs per invocation — the shape mapGroupsWithState can't
   * express). Append output mode; state is one open session per key,
   * bounded by the event-time timeout.
   *
   * Gap math is exact integer µs, and a session closes when the next
   * event is >= gap away — the same contract as the batch gap-flag
   * sessionizer, so a drained stream equals the batch answer. Events are
   * assumed in order per user ACROSS batches (within a batch they are
   * sorted here); a late in-watermark event older than the open
   * session's last timestamp extends that session rather than
   * re-splitting history.
   */
  def sessionizeClosed(events: DataFrame, gapMinutes: Int = 30,
                       watermark: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.withWatermark("ts", watermark).as[Evt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evts: Iterator[Evt], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              SessionOut(userId, s.nEvents, (s.lastTs - s.firstTs) / 1e6, closed = true))
          } else {
            val times = evts.map(e => microsOf(e.ts)).toArray
            java.util.Arrays.sort(times)
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption.orNull
            var i = 0
            while (i < times.length) {
              val t = times(i)
              if (cur == null) cur = SessionState(1L, t, t)
              else if (t - cur.lastTs >= gapUs) {
                closed += SessionOut(userId, cur.nEvents,
                  (cur.lastTs - cur.firstTs) / 1e6, closed = true)
                cur = SessionState(1L, t, t)
              } else cur = SessionState(cur.nEvents + 1,
                math.min(cur.firstTs, t), math.max(cur.lastTs, t))
              i += 1
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.lastTs / 1000L + gapMinutes * 60000L)
            closed.iterator
          }
      }
  }

  /**
   * Streaming deduplication at (key, event-time) grain: two rows with the
   * same key at DIFFERENT timestamps both survive — the retransmission /
   * at-least-once-delivery filter, not a per-key dedup (for that, see
   * [[dedupStreamByKey]]). The watermark bounds dropDuplicates state.
   */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates(keyCols :+ "ts")

  /**
   * TRUE per-key streaming dedup: first arrival per key survives, later
   * rows with the same key are dropped regardless of timestamp, with
   * state expiring once the watermark passes a key's event time
   * (`dropDuplicatesWithinWatermark`). This is the streaming twin of
   * [[graft.ext.Dedup.exact]] — an LLM-ingest feed dedups on content
   * fingerprint as documents arrive instead of in a batch sweep. Which
   * row survives depends on arrival order; downstream consumers that need
   * determinism should project survivor-independent columns (the key set).
   */
  def dedupStreamByKey(events: DataFrame, keyCols: Seq[String],
                       watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /**
   * Watermarked stream-stream interval join: each click pairs with the
   * same user's purchases within `windowMinutes` after it. Watermarks on
   * BOTH sides + the time-interval condition bound the join state — the
   * engine can discard buffered rows once the watermark passes the
   * interval, which is what makes an unbounded×unbounded join feasible.
   */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
                      windowMinutes: Int = 30,
                      watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    c.join(p, expr(
      s"""c_user = p_user AND
          purchase_ts >= click_ts AND
          purchase_ts <= click_ts + interval $windowMinutes minutes"""))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
  }

  /**
   * LEFT OUTER watermarked stream-stream interval join: like
   * [[clickToPurchase]], but clicks with no purchase inside the window
   * emit a NULL-extended row — the attribution-with-abandonment shape.
   * The null row for a click can only be emitted once the watermark
   * passes `click_ts + window` (before that a matching purchase could
   * still arrive), so unmatched results trail the stream by watermark +
   * window; a drained fixture needs a watermark-advancing sentinel on
   * BOTH input streams (the global watermark is the minimum across them).
   */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame,
                           windowMinutes: Int = 30,
                           watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    c.join(p, expr(
      s"""c_user = p_user AND
          purchase_ts >= click_ts AND
          purchase_ts <= click_ts + interval $windowMinutes minutes"""),
      "leftOuter")
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
  }

  /**
   * Streaming session-window aggregation (the built-in `session_window`
   * under a watermark — the declarative twin of [[sessionize]]). Append
   * mode emits a session only once the watermark passes its END, so the
   * tail sessions of a drained fixture emit only after a later event
   * advances the watermark — tests append a sentinel event for exactly
   * that reason; a live feed advances naturally.
   */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes",
                         watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /**
   * Streaming upsert into a warehouse table (foreachBatch → incremental
   * merge): each micro-batch is folded into the table's per-user rows
   * by [[foldUserStats]] and the fold — already the next table state —
   * commits through [[graft.core.Materialize.replaceTable]]'s location
   * swap: the streaming twin of the dbt incremental mart. On a
   * transactional table format the fold+swap collapses into one MERGE
   * INTO; the per-batch shape is identical.
   *
   * foreachBatch is at-least-once and the fold is not idempotent, so
   * every row carries the id of the last batch folded in
   * (`__last_batch`), the [[Replay]] guard column: an already-applied
   * id skips. The fold and its id land in ONE swap, so there is no
   * partial state to absorb. With the checkpointed offsets this makes
   * the upsert effectively exactly-once (the guard a MERGE-by-batch-id
   * gives on a transactional format).
   */
  def upsertUserStats(events: DataFrame, table: String,
                      checkpoint: Option[String] = None): StreamingQuery = {
    val spark = events.sparkSession
    Replay.stream(events, checkpoint) { (batch, batchId, known) =>
      Replay.once(spark, table, "__last_batch", batchId, known) { _ =>
        val prev = if (spark.catalog.tableExists(table)) Some(spark.table(table)) else None
        graft.core.Materialize.replaceTable(spark, table,
          foldUserStats(batch, prev).withColumn("__last_batch", lit(batchId)))
      }
    }
  }

  /** One upsert fold, exposed for plan-shape pinning: the batch's rows
    * enter as `(user_id, 1, ts)` partial states beside the table's
    * `(user_id, n_events, last_ts)` rows, and ONE `groupBy(user_id)`
    * combines them (sum counts, max timestamps — commutative, so
    * micro-batch order, which is not a contract, cannot matter). One
    * exchange and no join; a NULL user_id folds into a single group,
    * exactly as the batch `GROUP BY` does. */
  def foldUserStats(batch: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val fresh = batch.select(col("user_id"), lit(1L).as("n_events"), col("ts").as("last_ts"))
    prev.fold(fresh)(t => fresh.unionByName(t.select("user_id", "n_events", "last_ts")))
      .groupBy("user_id")
      .agg(sum(col("n_events")).as("n_events"), max(col("last_ts")).as("last_ts"))
  }

  /** Start a parquet sink with checkpointing (the streaming S4). */
  def writeParquet(df: DataFrame, path: String, checkpoint: String,
                   mode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .start()
}
