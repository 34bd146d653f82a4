package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/**
 * Structured Streaming over the events fixture: the streamed result of a
 * windowed aggregation must converge to the batch answer once all files
 * are processed (exactly-once file source semantics).
 */
class StreamingSpec extends SparkSpec {

  test("windowed stats stream converges to the batch aggregate") {
    val stream = EventStream.windowedStats(
      EventStream.readEvents(spark, sfDir), "1 hour", "2 hours")
    val q = stream.writeStream
      .format("memory").queryName("win_stats").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_stats")
        .select(col("window.start").as("ws"), col("event_type"), col("n_events"))
      val batch = graft.core.Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming dedup emits each (key, event-time) pair once") {
    val deduped = EventStream.dedupStream(
      EventStream.readEvents(spark, sfDir), Seq("user_id"))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("dedup_stream")
      val batch = graft.core.Tables.events(spark, sfDir)
        .dropDuplicates("user_id", "ts")
      assert(out.count() == batch.count())
    } finally q.stop()
  }

  test("per-key streaming dedup emits exactly one row per key") {
    val deduped = EventStream.dedupStreamByKey(
      EventStream.readEvents(spark, sfDir), Seq("user_id"))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_bykey").outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("dedup_bykey")
      val distinctKeys = graft.core.Tables.events(spark, sfDir)
        .select("user_id").distinct().count()
      assert(out.count() == distinctKeys, "one survivor per key")
      assert(out.select("user_id").distinct().count() == distinctKeys)
    } finally q.stop()
  }

  test("streaming session_window converges to the batch sessions once flushed") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_st_sess").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/a_events.parquet"))
    val stream = EventStream.sessionWindowStats(
      EventStream.readEvents(spark, dir, globFilter = "*.parquet"))
    val q = stream.writeStream
      .format("memory").queryName("st_sess").outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode withholds sessions until the watermark passes their
      // end — a far-future sentinel event flushes every real session
      val maxSec = graft.core.Tables.events(spark, sfDir)
        .agg(max(col("ts").cast("long"))).head().getLong(0)
      // NTZ ts so the sentinel file's physical type matches the fixture copy
      val sentinelTs = java.time.LocalDateTime.ofEpochSecond(
        maxSec + 86400L, 0, java.time.ZoneOffset.UTC)
      import spark.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft_sentinel").toString
      Seq((-1L, sentinelTs, -1L, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/z_sentinel.parquet"))
      q.processAllAvailable()
      val streamed = spark.table("st_sess").filter(col("user_id") >= 0)
        .select("user_id", "session_start", "n_events")
      val batch = graft.core.Tables.events(spark, sfDir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("StreamMetrics records input rows and bounded state for a windowed drain") {
    val m = graft.streaming.StreamMetrics.install(spark)
    try {
      val q = EventStream.windowedStats(
          EventStream.readEvents(spark, sfDir), "1 hour", "2 hours")
        .writeStream.format("memory").queryName("sm_probe")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      // listener events are delivered asynchronously after the batch
      var recs = Seq.empty[graft.streaming.StreamMetrics.BatchRecord]
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (recs.map(_.inputRows).sum == 0 && System.nanoTime < deadline) {
        Thread.sleep(200); recs = recs ++ m.drain()
      }
      val total = recs.map(_.inputRows).sum
      val fixtureRows = graft.core.Tables.events(spark, sfDir).count()
      assert(total == fixtureRows,
        s"progress must account for every input row ($total vs $fixtureRows)")
      assert(recs.exists(_.stateRows > 0),
        "a windowed aggregation must report state-store rows")
    } finally m.uninstall()
  }

  test("checkpointed upsert resumes across a restart without loss or double-count") {
    val table = "graft_test_resume_upsert"
    graft.core.Materialize.dropWithLocation(spark, table)
    val stage = java.nio.file.Files.createTempDirectory("graft_resume_stage").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_resume_ckpt").toString
    val src = spark.read.parquet(s"$sfDir/events.parquet")
    // first half of the feed arrives, is drained, and the query STOPS
    src.filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(stage)
    val q1 = EventStream.upsertUserStats(
      EventStream.readEvents(spark, stage, globFilter = "*.parquet"),
      table, checkpoint = Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()
    // second half lands; a NEW query restarts from the same checkpoint —
    // already-applied files must not fold in twice
    src.filter(col("event_id") % 2 === 1)
      .write.mode("append").parquet(stage)
    val q2 = EventStream.upsertUserStats(
      EventStream.readEvents(spark, stage, globFilter = "*.parquet"),
      table, checkpoint = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()
    val streamed = spark.table(table).drop("__last_batch")
    val batch = graft.core.Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "restarted upsert must equal the one-shot batch aggregate")
    graft.core.Materialize.dropWithLocation(spark, table)
  }

  test("upsert folds NULL user_ids into one row across triggers, as the batch GROUP BY does") {
    val table = "graft_test_upsert_nulls"
    graft.core.Materialize.dropWithLocation(spark, table)
    val stage = java.nio.file.Files.createTempDirectory("graft_upsert_nulls").toString
    def withNulls(df: org.apache.spark.sql.DataFrame) = df.withColumn("user_id",
      when(col("event_id") % 5 === 0, lit(null).cast("long")).otherwise(col("user_id")))
    val src = withNulls(spark.read.parquet(s"$sfDir/events.parquet"))
    // two files, each holding NULL-user rows, drained one per trigger
    for (half <- 0 to 1)
      src.filter(col("event_id") % 2 === half).coalesce(1)
        .write.mode("append").parquet(stage)
    try {
      val q = EventStream.upsertUserStats(
        EventStream.readEvents(spark, stage, globFilter = "*.parquet",
          maxFilesPerTrigger = 1), table)
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "the feed must fold in over at least two triggers")
      val streamed = spark.table(table).drop("__last_batch")
      val batch = withNulls(graft.core.Tables.events(spark, sfDir))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      assert(streamed.filter(col("user_id").isNull).count() == 1,
        "NULL users must fold into one group")
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "drained upsert must equal the one-shot GROUP BY user_id")
    } finally graft.core.Materialize.dropWithLocation(spark, table)
  }

  test("upsert replay at the commit boundary is skipped by the re-seeded watermark") {
    val table = "graft_test_upsert_replay"
    graft.core.Materialize.dropWithLocation(spark, table)
    val stage = java.nio.file.Files.createTempDirectory("graft_replay_stage").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_replay_ckpt").toString
    val src = spark.read.parquet(s"$sfDir/events.parquet")
    for (part <- 0 to 2)
      src.filter(col("event_id") % 3 === part).coalesce(1)
        .write.mode("append").parquet(stage)
    def drain() = {
      val q = EventStream.upsertUserStats(
        EventStream.readEvents(spark, stage, globFilter = "*.parquet",
          maxFilesPerTrigger = 1), table, checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
      q
    }
    try {
      drain()
      // crash between the last batch's table commit and its offset
      // commit: the table holds the fold, the checkpoint lacks commits/<n>
      val commits = new java.io.File(ckpt, "commits")
      val last = commits.list().filter(_.matches("\\d+")).map(_.toLong).max
      assert(last >= 2, s"three files must drain as three batches, last = $last")
      for (f <- Seq(s"$last", s".$last.crc")) new java.io.File(commits, f).delete()
      val q2 = drain()
      // (a skipped batch reads no rows, so its progress reports none)
      assert(q2.recentProgress.map(_.batchId).contains(last) &&
        new java.io.File(commits, s"$last").exists,
        "the restart must re-run and commit the uncommitted batch")
      assert(spark.table(table).agg(max(col("__last_batch"))).head().getLong(0) == last)
      val streamed = spark.table(table).drop("__last_batch")
      val batch = graft.core.Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "a replayed batch must not fold in twice")
    } finally graft.core.Materialize.dropWithLocation(spark, table)
  }

  test("Replay: absent table reads -1; once skips at or below the watermark") {
    import spark.implicits._
    import graft.streaming.Replay
    val t = "graft_test_replay_guard"
    graft.core.Materialize.dropWithLocation(spark, t)
    try {
      assert(Replay.lastIn(spark, t, "batch_id") == -1L)
      Seq.empty[Long].toDF("batch_id").write.saveAsTable(t)
      assert(Replay.lastIn(spark, t, "batch_id") == -1L, "an empty table reads -1")
      Seq(0L, 3L).toDF("batch_id").write.mode("append").saveAsTable(t)
      assert(Replay.lastIn(spark, t, "batch_id") == 3L)
      var steps = Seq.empty[Long]
      for (b <- Seq(2L, 3L))
        assert(Replay.once(spark, t, "batch_id", b, None)(steps :+= _) == 3L)
      assert(steps.isEmpty, "an id at or below the watermark must not run its step")
      assert(Replay.once(spark, t, "batch_id", 5L, None)(steps :+= _) == 5L)
      // a held watermark stands in for the table read
      assert(Replay.once(spark, t, "batch_id", 5L, Some(5L))(steps :+= _) == 5L)
      assert(Replay.once(spark, t, "batch_id", 6L, Some(5L))(steps :+= _) == 6L)
      assert(steps == Seq(3L, 5L), "each step receives the previous watermark")
    } finally graft.core.Materialize.dropWithLocation(spark, t)
  }

  test("ingest wrappers restart from a commit-boundary crash equal to a never-crashed twin") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.streaming._
    /** One wrapper: its tables, its guard (table suffix, id column), the
      * three chunks it drains and how it starts on a stream. */
    case class Wrapper(name: String, tables: Seq[String], guard: (String, String),
                       chunks: Seq[DataFrame],
                       start: (DataFrame, String, Option[String]) => StreamingQuery)
    val docs = Seq(
      Seq((1L, "the quick brown fox"), (2L, "lazy dogs sleep all day")),
      Seq((3L, "the fox jumps over dogs"), (4L, "brown bread and butter")),
      Seq((5L, "quick quick slow"), (6L, "day and night")))
      .map(_.toDF("doc_id", "text"))
    val vecs = Seq(
      Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.9, 0.1))),
      Seq((4L, Seq(0.2, 0.8)), (5L, Seq(1.0, 0.2))),
      Seq((6L, Seq(0.1, 0.9)), (7L, Seq(0.7, 0.3))))
      .map(_.toDF("vec_id", "embedding"))
    val ref = (1 to 20).map(_.toDouble).toDF("v")
    val wrappers = Seq(
      Wrapper("hll", Seq("_hll_regs", "_hll_est"), "_hll_est" -> "batch_id",
        Seq(Seq(("a", "s1"), ("b", "s1"), ("c", "s2")), Seq(("a", "s2"), ("d", "s1")),
          Seq(("e", "s1"), ("b", "s2"))).map(_.toDF("key", "src")),
        (st, p, cp) => SketchIngest.hllIngest(st, "key", "src", p, checkpoint = cp)),
      Wrapper("psi", Seq("_psi"), "_psi" -> "batch_id",
        Seq(1 to 10, 11 to 30, 25 to 40).map(_.map(_.toDouble).toDF("v")),
        (st, p, cp) => DriftMonitor.psiIngest(st, ref, "v", 5.0, p, cp)),
      Wrapper("bm25", Seq("_postings", "_stats"), "_stats" -> "__last_batch", docs,
        (st, p, cp) => SearchIngest.bm25Ingest(st, "doc_id", "text", p, checkpoint = cp)),
      Wrapper("mm", Seq("_meta", "_marks"), "_marks" -> "__last_batch",
        docs.map(_.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))),
        (st, p, cp) => MediaIngest.mediaIngest(st, "doc_id", "payload",
          lit("image"), p, cp)),
      Wrapper("clf", Seq("_weights", "_marks"), "_marks" -> "__last_batch",
        Seq(Seq((1L, Seq(0, 1), 1L), (2L, Seq(2, 3), -1L)),
          Seq((3L, Seq(0, 2), 1L), (4L, Seq(1, 3), -1L)),
          Seq((5L, Seq(1, 2), -1L), (6L, Seq(0, 3), 1L)))
          .map(_.toDF("doc_id", "buckets", "y")),
        (st, p, cp) => ClassifierIngest.classifierIngest(st, "buckets", "y", p,
          numBuckets = 4, roundsPerBatch = 2, checkpoint = cp)),
      Wrapper("kmeans", Seq("_state", "_marks"), "_marks" -> "__last_batch", vecs,
        (st, p, cp) => VectorIngest.kmeansIngest(st, "vec_id", "embedding", p,
          k = 2, checkpoint = cp)))
    for (w <- wrappers) {
      val cra = s"graft_test_rs_${w.name}_a" // crashed at the commit boundary
      val twn = s"graft_test_rs_${w.name}_b" // never crashed
      def dropAll(): Unit = for (p <- Seq(cra, twn); t <- w.tables)
        graft.core.Materialize.dropWithLocation(spark, p + t)
      dropAll()
      try {
        val schema = w.chunks.head.schema
        def drain(stage: String, p: String, cp: Option[String]): StreamingQuery = {
          val q = w.start(spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1).parquet(stage), p, cp)
          try q.processAllAvailable() finally q.stop()
          q
        }
        val twinStage = java.nio.file.Files.createTempDirectory("graft_rs_twin").toString
        w.chunks.zipWithIndex.foreach { case (c, i) => stageChunk(twinStage, c, i) }
        drain(twinStage, twn, None)
        val stage = java.nio.file.Files.createTempDirectory("graft_rs_stage").toString
        val ckpt = java.nio.file.Files.createTempDirectory("graft_rs_ckpt").toString
        stageChunk(stage, w.chunks(0), 0)
        stageChunk(stage, w.chunks(1), 1)
        drain(stage, cra, Some(ckpt))
        // crash after batch 1's table commit, before its offset commit
        val commits = new java.io.File(ckpt, "commits")
        val last = commits.list().filter(_.matches("\\d+")).map(_.toLong).max
        assert(last == 1L, s"${w.name}: two chunks must drain as two batches")
        for (f <- Seq(s"$last", s".$last.crc")) new java.io.File(commits, f).delete()
        stageChunk(stage, w.chunks(2), 2)
        val q2 = drain(stage, cra, Some(ckpt))
        assert(q2.recentProgress.map(_.batchId).contains(last),
          s"${w.name}: the restart must re-run the uncommitted batch")
        for (p <- Seq(cra, twn); t <- w.tables) spark.catalog.refreshTable(p + t)
        val (g, idCol) = w.guard
        def perId(p: String) = spark.table(p + g).groupBy(col(idCol)).count()
          .as[(Long, Long)].collect().toMap
        assert(perId(cra).keySet == Set(0L, 1L, 2L) && perId(cra) == perId(twn),
          s"${w.name}: guard rows per batch id ${perId(cra)} vs twin ${perId(twn)}")
        for (t <- w.tables) {
          val (a, b) = (spark.table(cra + t), spark.table(twn + t))
          assert(a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
            s"${w.name}: $t differs from the never-crashed twin")
        }
      } finally {
        dropAll()
        graft.core.CacheRegistry.releaseAll()
      }
    }
  }

  /** Stage chunk `i` of a restart spec into `stage` as one parquet file.
    * Its mtime orders it after chunks 0..i−1 (the file source drains by
    * modification time), so every run sees chunk i as batch i, also
    * when chunk i is staged after a restart. */
  private def stageChunk(stage: String, c: org.apache.spark.sql.DataFrame,
                         i: Int): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rs_part")
    try {
      c.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(stage, s"chunk_$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() - 600000L + i * 60000L)
    } finally graft.core.Materialize.deleteRecursively(tmp)
  }

  test("sketch monitors restart from a torn guard append equal to a never-crashed twin") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.streaming.SketchIngest
    /** One monitor: its tables (guard last) and how it starts. */
    case class Monitor(name: String, tables: Seq[String],
                       start: (DataFrame, String, Option[String]) => StreamingQuery)
    // compactEvery = 2 compacts every state table after batch 3 on both
    // runs, so the crashed run's replay dupes must be folded away and
    // every table must equal the twin's as a multiset
    val monitors = Seq(
      Monitor("hll", Seq("_hll_regs", "_hll_est"), (st, p, cp) =>
        SketchIngest.hllIngest(st, "key", "grp", p, cp, compactEvery = 2)),
      Monitor("kmv", Seq("_kmv_hashes", "_kmv_est"), (st, p, cp) =>
        SketchIngest.kmvIngest(st, "key", "grp", p, k = 8, cp, compactEvery = 2)),
      Monitor("qsk", Seq("_qsk_sample", "_qsk_q"), (st, p, cp) =>
        SketchIngest.qskIngest(st, "id", "value", "grp", p, k = 8, cp,
          compactEvery = 2)),
      Monitor("bloom", Seq("_bloom_pos", "_bloom_novel"), (st, p, cp) =>
        SketchIngest.bloomNoveltyIngest(st, "key", p, k = 3, m = 256, cp,
          compactEvery = 2)),
      Monitor("cms", Seq("_cms_cnt", "_cms_cand", "_cms_est"), (st, p, cp) =>
        SketchIngest.cmsIngest(st, "key", p, d = 2, w = 32, topN = 3, cp,
          compactEvery = 2)),
      Monitor("hist", Seq("_hist_cnt", "_hist_q"), (st, p, cp) =>
        SketchIngest.histQuantileIngest(st, "value", "grp", p, width = 4d, cp,
          compactEvery = 2)),
      Monitor("cusum", Seq("_cusum_daily", "_cusum_traj"), (st, p, cp) =>
        SketchIngest.cusumIngest(st, "value", "day", "grp", p, slack = 1d, cp,
          compactEvery = 2)))
    // 4 chunks of 40 rows over 6 groups and ~50 keys: every guard append
    // has rows for several groups or keys
    val chunks = (0 until 4).map(c => (c * 40L until (c + 1) * 40L)
      .map(id => (id, s"k${id * 7 % 53}", s"g${id % 6}", (id % 37) * 1.5, id % 5))
      .toDF("id", "key", "grp", "value", "d")
      .select(col("id"), col("key"), col("grp"), col("value"),
        date_add(lit("2026-01-01").cast("date"), col("d").cast("int")).as("day")))
    val schema = chunks.head.schema
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // as the registry drains run
    val dirs = Seq("graft_tg_twin", "graft_tg_stage", "graft_tg_ckpt")
      .map(java.nio.file.Files.createTempDirectory(_))
    val Seq(twinStage, stage, ckpt) = dirs.map(_.toString)
    chunks.zipWithIndex.foreach { case (c, i) => stageChunk(twinStage, c, i) }
    (0 until 3).foreach(i => stageChunk(stage, chunks(i), i))
    try for (m <- monitors) {
      val cra = s"graft_test_tg_${m.name}_a" // torn guard append at batch 2
      val twn = s"graft_test_tg_${m.name}_b" // never crashed
      def dropAll(): Unit = for (p <- Seq(cra, twn); t <- m.tables)
        graft.core.Materialize.dropWithLocation(spark, p + t)
      dropAll()
      val cp = s"$ckpt/${m.name}"
      try {
        def drain(stage: String, p: String, cp: Option[String]): StreamingQuery = {
          val q = m.start(spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1).parquet(stage), p, cp)
          try q.processAllAvailable() finally q.stop()
          q
        }
        drain(twinStage, twn, None)
        drain(stage, cra, Some(cp))
        // the crash: batch 2's guard append died after one of its files
        // was published, before the offset commit. A task-parallel
        // append spreads these rows over several files (4 per monitor
        // here), so deleting one leaves part of batch 2; a one-file
        // append loses all of it, and the restart must re-run the batch
        val guard = cra + m.tables.last
        spark.catalog.refreshTable(guard)
        val files = spark.table(guard).filter(col("batch_id") === 2L)
          .select(input_file_name()).distinct().as[String].collect()
          .map(f => new java.io.File(new java.net.URI(f)))
        assert(files.nonEmpty, s"${m.name}: batch 2 wrote no guard rows")
        assert(files.head.delete())
        new java.io.File(files.head.getParent, s".${files.head.getName}.crc").delete()
        val commits = new java.io.File(cp, "commits")
        assert(commits.list().filter(_.matches("\\d+")).map(_.toLong).max == 2L,
          s"${m.name}: three chunks must drain as three batches")
        for (f <- Seq("2", ".2.crc")) new java.io.File(commits, f).delete()
        spark.catalog.refreshTable(guard)
        stageChunk(stage, chunks(3), 3)
        val q2 = drain(stage, cra, Some(cp))
        assert(q2.recentProgress.map(_.batchId).contains(2L),
          s"${m.name}: the restart must re-run the uncommitted batch")
        for (p <- Seq(cra, twn); t <- m.tables) spark.catalog.refreshTable(p + t)
        for (t <- m.tables) {
          val (a, b) = (spark.table(cra + t), spark.table(twn + t))
          assert(a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
            s"${m.name}: $t differs from the never-crashed twin " +
              s"(batch 2's guard append was ${files.length} file(s), one deleted)")
        }
        assert(files.length == 1,
          s"${m.name}: a guard append must be one file, was ${files.length}")
      } finally {
        dropAll()
        graft.core.CacheRegistry.releaseAll()
        new java.io.File(stage, "chunk_3.parquet").delete()
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      dirs.foreach(graft.core.Materialize.deleteRecursively)
    }
  }

  test("registry drains leave no staging dir behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged() = tmp.list().filter(_.startsWith("graft_st_")).toSet
    val before = staged()
    try for (q <- Seq("st_stream_outer_join", "st_hll_ingest"))
      graft.queries.Registry.queries(q)(spark, sfDir)
    finally for (t <- Seq("_hll_regs", "_hll_est"))
      graft.core.Materialize.dropWithLocation(spark, "graft_stream_hll" + t)
    assert(staged() -- before == Set.empty[String],
      "a drain must delete its staging dirs")
  }

  test("flatMapGroupsWithState emits only closed sessions, in append mode") {
    val sessions = EventStream.sessionizeClosed(
      EventStream.readEvents(spark, sfDir), gapMinutes = 30)
    val q = sessions.toDF().writeStream
      .format("memory").queryName("closed_sessions").outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("closed_sessions").collect()
      // single-file source: the watermark never advances past the final
      // batch, so open sessions stay open — every EMITTED row is closed
      assert(out.forall(_.getBoolean(3)), "append mode must emit closed sessions only")
    } finally q.stop()
  }

  test("sessionization streams per-user state and counts every event once") {
    val sessions = EventStream.sessionize(
      EventStream.readEvents(spark, sfDir), gapMinutes = 30)
    val q = sessions.toDF().writeStream
      .format("memory").queryName("sessions").outputMode("update").start()
    try {
      q.processAllAvailable()
      val out = spark.table("sessions")
      assert(out.count() > 0)
      // the last open-session update per user carries that user's running
      // total; with one input file the total equals the batch count
      val totals = out.filter(!col("closed"))
        .groupBy("userId").agg(max("nEvents").as("n"))
      val batch = graft.core.Tables.events(spark, sfDir)
        .groupBy(col("user_id").as("userId")).agg(count(lit(1)).as("n"))
      val joined = totals.join(batch, Seq("userId"))
        .filter(totals("n") =!= batch("n"))
      assert(joined.isEmpty, "streamed per-user totals must match batch counts")
    } finally q.stop()
  }

  test("corpus dedup ingest: first arrival wins across batches, replay is a no-op") {
    import spark.implicits._
    val table = "graft_test_corpus_ingest"
    graft.core.Materialize.dropWithLocation(spark, table)
    try {
      val b0 = Seq((10L, "alpha"), (11L, "beta"), (12L, "alpha"))
        .toDF("doc_id", "text")
      val b1 = Seq((20L, "beta"), (21L, "gamma"), (22L, "gamma"))
        .toDF("doc_id", "text")
      graft.streaming.CorpusIngest.applyBatch(b0, 0L, "doc_id", "text", table)
      graft.streaming.CorpusIngest.applyBatch(b1, 1L, "doc_id", "text", table)
      // alpha -> 10 (12 loses within batch 0), beta -> 11 (20 loses
      // cross-batch to the accepted table), gamma -> 21 (22 loses within
      // batch 1)
      val got = spark.table(table).select("doc_id").as[Long].collect().toSet
      assert(got == Set(10L, 11L, 21L))
      // at-least-once replay of an already-applied batch changes nothing
      graft.streaming.CorpusIngest.applyBatch(b1, 1L, "doc_id", "text", table)
      assert(spark.table(table).count() == 3)
      // and a later batch with nothing new appends nothing
      graft.streaming.CorpusIngest.applyBatch(
        Seq((30L, "alpha")).toDF("doc_id", "text"), 2L, "doc_id", "text", table)
      assert(spark.table(table).count() == 3)
    } finally graft.core.Materialize.dropWithLocation(spark, table)
  }

  test("checkpointed dedup ingest resumes across a restart: no loss, no double-accept") {
    import spark.implicits._
    val table = "graft_test_resume_ingest"
    graft.core.Materialize.dropWithLocation(spark, table)
    val stage = java.nio.file.Files.createTempDirectory("graft_ingres_stage").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ingres_ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def feed() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    // first file arrives, is drained, and the query STOPS (coalesce(1):
    // multiple same-mtime files would drain in random UUID-name order,
    // making the first-arrival winner nondeterministic)
    Seq((10L, "alpha"), (11L, "beta"), (12L, "alpha"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val q1 = graft.streaming.CorpusIngest.dedupIngest(
      feed(), "doc_id", "text", table, checkpoint = Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()
    // more files land; a NEW query restarts from the same checkpoint —
    // the already-accepted fingerprints must keep gating, and the
    // already-processed file must not re-append its survivors
    Seq((20L, "beta"), (21L, "gamma")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(stage)
    val q2 = graft.streaming.CorpusIngest.dedupIngest(
      feed(), "doc_id", "text", table, checkpoint = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()
    spark.catalog.refreshTable(table)
    val got = spark.table(table).select("doc_id").as[Long].collect().toSet
    assert(got == Set(10L, 11L, 21L),
      "restart must neither drop accepted docs nor re-accept duplicates")
    graft.core.Materialize.dropWithLocation(spark, table)
  }

  test("near-dup ingest: drops vs the grown index, dominator within batch, replay no-op") {
    import spark.implicits._
    val prefix = "graft_test_nd_ingest"
    def dropAll(): Unit = for (t <- Seq("_docs", "_bands", "_shingles"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    try {
      val b0 = Seq(
        (10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "completely different text about spark streaming ingestion pipelines"),
        (12L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      val b1 = Seq(
        // near-dup of accepted 10 (J = 7/8): dropped only because the
        // index grew with batch 0's survivors
        (20L, "the quick brown fox jumps over the lazy dog today"),
        (21L, "a fresh unrelated document holding entirely novel content"))
        .toDF("doc_id", "text")
      graft.streaming.CorpusIngest.applyNearDupBatch(
        b0, 0L, "doc_id", "text", prefix)
      graft.streaming.CorpusIngest.applyNearDupBatch(
        b1, 1L, "doc_id", "text", prefix)
      val got = spark.table(prefix + "_docs")
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(10L, 11L, 21L),
        "12 falls to the within-batch dominator, 20 to the grown index")
      // the index holds exactly the survivors' rows
      val idx = spark.table(prefix + "_shingles")
        .select("doc_id").as[Long].collect().toSet
      assert(idx == Set(10L, 11L, 21L))
      // at-least-once replay of an applied batch changes nothing
      graft.streaming.CorpusIngest.applyNearDupBatch(
        b1, 1L, "doc_id", "text", prefix)
      assert(spark.table(prefix + "_docs").count() == 3)
    } finally dropAll()
  }

  test("near-dup ingest replays exactly after a crash between index append and docs write") {
    import spark.implicits._
    val prefix = "graft_test_nd_crash"
    def dropAll(): Unit = for (t <- Seq("_docs", "_bands", "_shingles"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    try {
      val b0 = Seq(
        (10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "completely different text about spark streaming ingestion pipelines"))
        .toDF("doc_id", "text")
      val b1 = Seq(
        (20L, "the quick brown fox jumps over the lazy dog today"),
        (21L, "a fresh unrelated document holding entirely novel content"),
        (22L, "a fresh unrelated document holding entirely novel content too"))
        .toDF("doc_id", "text")
      graft.streaming.CorpusIngest.applyNearDupBatch(
        b0, 0L, "doc_id", "text", prefix)
      graft.streaming.CorpusIngest.applyNearDupBatch(
        b1, 1L, "doc_id", "text", prefix)
      // simulate the worst crash window: batch 1's index rows landed but
      // its docs write was lost — rebuild the docs table holding batch 0
      // only, leave the grown band/shingle index untouched
      val keep = spark.table(prefix + "_docs")
        .filter(col("__last_batch") === 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      graft.core.Materialize.dropWithLocation(spark, prefix + "_docs")
      keep.toDF("doc_id", "__last_batch")
        .write.saveAsTable(prefix + "_docs")
      // the at-least-once replay of batch 1 must re-accept its survivors
      // — NOT drop them as near-dups of their own index rows
      graft.streaming.CorpusIngest.applyNearDupBatch(
        b1, 1L, "doc_id", "text", prefix)
      val got = spark.table(prefix + "_docs")
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(10L, 11L, 21L),
        "crash-replay lost survivors (or resurrected dominated docs)")
      // the re-appended index rows are duplicates, not divergence
      val idx = spark.table(prefix + "_shingles")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(idx == Set(10L, 11L, 21L))
    } finally dropAll()
  }

  test("checkpointed embed ingest resumes across a restart: gating and watermark survive") {
    import spark.implicits._
    val prefix = "graft_test_emb_resume"
    def dropAll(): Unit = for (t <- Seq("_ids", "_vecs"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    val stage = java.nio.file.Files.createTempDirectory("graft_embres_stage").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_embres_ckpt").toString
    val ones = Seq.fill(64)(1.0)
    val first = Seq((10L, ones), (11L, Seq.fill(32)(1.0) ++ Seq.fill(32)(0.0)))
      .toDF("vec_id", "embedding")
    def feed() = spark.readStream.schema(first.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    try {
      first.coalesce(1).write.mode("overwrite").parquet(stage)
      val q1 = graft.streaming.VectorIngest.embedIngest(
        feed(), "vec_id", "embedding", prefix, checkpoint = Some(ckpt))
      try q1.processAllAvailable() finally q1.stop()
      // restart from the same checkpoint: the near-dup of ACCEPTED 10
      // must still be gated by the standing index, the novel vector must
      // land, and the already-processed file must not replay
      Seq((20L, ones.updated(10, 1.01)),
          (21L, Seq.fill(32)(0.0) ++ Seq.fill(32)(1.0)))
        .toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(stage)
      val q2 = graft.streaming.VectorIngest.embedIngest(
        feed(), "vec_id", "embedding", prefix, checkpoint = Some(ckpt))
      try q2.processAllAvailable() finally q2.stop()
      spark.catalog.refreshTable(prefix + "_ids")
      val got = spark.table(prefix + "_ids")
        .select("vec_id").as[Long].collect().toSet
      assert(got == Set(10L, 11L, 21L),
        "restart must keep gating against the standing index without replays")
    } finally dropAll()
  }

  test("embed ingest: drops vs the grown vector index, dominator within batch, replay no-op") {
    import spark.implicits._
    val prefix = "graft_test_emb_ingest"
    def dropAll(): Unit = for (t <- Seq("_ids", "_vecs"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    try {
      val ones = Seq.fill(64)(1.0)
      // perturbing a NON-hyperplane coordinate (>4, <33) keeps the
      // bits=4 bucket while cosine stays ~1 — the same-bucket near-dup
      val b0 = Seq(
        (10L, ones),
        (11L, Seq.fill(32)(1.0) ++ Seq.fill(32)(0.0)), // bucket 15, far
        (12L, ones.updated(9, 1.01)))                  // ~dup of 10, same bucket
        .toDF("vec_id", "embedding")
      val b1 = Seq(
        (20L, ones.updated(10, 1.01)), // ~dup of ACCEPTED 10 — only the grown index drops it
        (21L, Seq.fill(32)(0.0) ++ Seq.fill(32)(1.0))) // bucket 0 but cos ~0.7: survives
        .toDF("vec_id", "embedding")
      graft.streaming.VectorIngest.applyEmbedBatch(
        b0, 0L, "vec_id", "embedding", prefix)
      graft.streaming.VectorIngest.applyEmbedBatch(
        b1, 1L, "vec_id", "embedding", prefix)
      val got = spark.table(prefix + "_ids")
        .select("vec_id").as[Long].collect().toSet
      assert(got == Set(10L, 11L, 21L),
        "12 falls to the within-batch dominator, 20 to the grown index")
      val idx = spark.table(prefix + "_vecs")
        .select("vec_id").as[Long].collect().toSet
      assert(idx == Set(10L, 11L, 21L))
      // at-least-once replay of an applied batch changes nothing
      graft.streaming.VectorIngest.applyEmbedBatch(
        b1, 1L, "vec_id", "embedding", prefix)
      assert(spark.table(prefix + "_ids").count() == 3)
    } finally dropAll()
  }

  test("embed ingest replays exactly after a crash between index append and ids write") {
    import spark.implicits._
    val prefix = "graft_test_emb_crash"
    def dropAll(): Unit = for (t <- Seq("_ids", "_vecs"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    try {
      val ones = Seq.fill(64)(1.0)
      val b0 = Seq((10L, ones)).toDF("vec_id", "embedding")
      val b1 = Seq(
        (20L, ones.updated(10, 1.01)),                  // dropped vs index
        (21L, Seq.fill(32)(0.0) ++ Seq.fill(32)(1.0)), // survivor
        (22L, (Seq.fill(32)(0.0) ++ Seq.fill(32)(1.0)).updated(40, 1.01)))
        .toDF("vec_id", "embedding")                    // dominated by 21
      graft.streaming.VectorIngest.applyEmbedBatch(
        b0, 0L, "vec_id", "embedding", prefix)
      graft.streaming.VectorIngest.applyEmbedBatch(
        b1, 1L, "vec_id", "embedding", prefix)
      // worst crash window: batch 1's vector rows landed but its ids
      // write was lost — rebuild ids holding batch 0 only
      val keep = spark.table(prefix + "_ids")
        .filter(col("__last_batch") === 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      graft.core.Materialize.dropWithLocation(spark, prefix + "_ids")
      keep.toDF("vec_id", "__last_batch")
        .write.saveAsTable(prefix + "_ids")
      // replay must re-accept 21 — NOT drop it against its own index row
      graft.streaming.VectorIngest.applyEmbedBatch(
        b1, 1L, "vec_id", "embedding", prefix)
      val got = spark.table(prefix + "_ids")
        .select("vec_id").as[Long].collect().toSet
      assert(got == Set(10L, 21L),
        "crash-replay lost survivors (or resurrected dominated vectors)")
      val idx = spark.table(prefix + "_vecs")
        .select("vec_id").distinct().as[Long].collect().toSet
      assert(idx == Set(10L, 21L))
    } finally dropAll()
  }

  test("kmeans ingest: cumulative weighted-mean fold matches hand computation; replay no-op") {
    import spark.implicits._
    val prefix = "graft_test_km_ingest"
    def dropAll(): Unit = for (t <- Seq("_state", "_marks"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    try {
      // 2-d-ish in 64 dims: cluster 0 near e_first, cluster 1 near e_last
      def vFirst(a: Double) = (a +: Seq.fill(63)(0.0))
      def vLast(a: Double) = (Seq.fill(63)(0.0) :+ a)
      val b0 = Seq((1L, vFirst(1.0)), (2L, vLast(1.0)), (3L, vFirst(3.0)))
        .toDF("vec_id", "embedding")
      val b1 = Seq((10L, vFirst(5.0)), (11L, vLast(7.0)))
        .toDF("vec_id", "embedding")
      graft.streaming.VectorIngest.applyKmeansBatch(
        b0, 0L, "vec_id", "embedding", prefix, k = 2)
      graft.streaming.VectorIngest.applyKmeansBatch(
        b1, 1L, "vec_id", "embedding", prefix, k = 2)
      def state(at: Long) = spark.table(prefix + "_state")
        .filter(col("__batch") === at).distinct()
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getLong(3))))
        .toMap
      // batch 0: seeds = vecs 1 (c0) and 2 (c1); cosine assigns 1,3 -> c0
      // (score 1), 2 -> c1; fold from cnt=0 gives the plain means
      val s0 = state(0L)
      assert(s0((0L, 0L)) === ((2.0, 2L))) // (1 + 3)/2 in dim 0
      assert(s0((1L, 63L))._1 === 1.0 && s0((1L, 63L))._2 === 1L)
      // batch 1: 10 -> c0, 11 -> c1; c0 dim0 = (2*2 + 5)/3 = 3.0
      val s1 = state(1L)
      assert(s1((0L, 0L)) === ((3.0, 3L)))
      assert(s1((1L, 63L)) === (((1.0 * 1 + 7.0) / 2, 2L)))
      // untouched dims stay put
      assert(s1((0L, 63L))._1 === 0.0)
      // replay of an applied batch is a no-op
      graft.streaming.VectorIngest.applyKmeansBatch(
        b1, 1L, "vec_id", "embedding", prefix, k = 2)
      assert(spark.table(prefix + "_marks").count() == 2)
      // crash window: batch 1's state rows landed, marks row lost —
      // rebuild marks holding batch 0 only, replay, and the re-appended
      // state rows must be exact duplicates the distinct-read absorbs
      graft.core.Materialize.dropWithLocation(spark, prefix + "_marks")
      Seq(0L).toDF("__last_batch").write.saveAsTable(prefix + "_marks")
      graft.streaming.VectorIngest.applyKmeansBatch(
        b1, 1L, "vec_id", "embedding", prefix, k = 2)
      assert(state(1L) === s1, "crash-replayed state diverged")
      assert(spark.table(prefix + "_marks").count() == 2)
      // BATCH-0 crash window: state rows landed but the marks table was
      // never created — the replay must RE-SEED (watermark −1), not read
      // an empty centroid set from the existing state table
      val s0before = state(0L)
      graft.core.Materialize.dropWithLocation(spark, prefix + "_marks")
      graft.streaming.VectorIngest.applyKmeansBatch(
        b0, 0L, "vec_id", "embedding", prefix, k = 2)
      assert(state(0L) === s0before, "batch-0 crash replay diverged")
    } finally dropAll()
  }

  test("classifier ingest: weights continue exactly across batches; crash replay is identical") {
    import spark.implicits._
    val prefix = "graft_test_clf_ingest"
    def dropAll(): Unit = for (t <- Seq("_weights", "_marks"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    try {
      // tiny separable feature rows: bucket 0 ⇒ +1, bucket 1 ⇒ −1
      val b0 = Seq((1L, Seq(0), 1L), (2L, Seq(1), -1L))
        .toDF("doc_id", "buckets", "y")
      val b1 = Seq((3L, Seq(0, 2), 1L), (4L, Seq(1, 3), -1L))
        .toDF("doc_id", "buckets", "y")
      graft.streaming.ClassifierIngest.applyTrainBatch(
        b0, 0L, "buckets", "y", prefix, numBuckets = 4, roundsPerBatch = 3)
      graft.streaming.ClassifierIngest.applyTrainBatch(
        b1, 1L, "buckets", "y", prefix, numBuckets = 4, roundsPerBatch = 3)
      val (w1, bias1) = graft.streaming.ClassifierIngest.weightsAt(
        spark, prefix, 1L, numBuckets = 4)
      // reference: the same trajectory threaded by hand through the
      // batch trainer with explicit seeding
      val m0 = graft.ext.Classifier.perceptronTrain(
        b0, "buckets", "y", numBuckets = 4, maxRounds = 3)
      val m1 = graft.ext.Classifier.perceptronTrain(
        b1, "buckets", "y", numBuckets = 4, maxRounds = 3,
        init = Some((m0.weights, m0.bias)))
      assert(w1.toSeq === m1.weights.toSeq && bias1 === m1.bias,
        "streamed continuation must match hand-threaded seeding")
      // crash window: batch 1's weight rows landed, marks row lost —
      // replay recomputes from batch 0's intact weights, identical rows
      graft.core.Materialize.dropWithLocation(spark, prefix + "_marks")
      Seq(0L).toDF("__last_batch").write.saveAsTable(prefix + "_marks")
      graft.streaming.ClassifierIngest.applyTrainBatch(
        b1, 1L, "buckets", "y", prefix, numBuckets = 4, roundsPerBatch = 3)
      val (w1r, bias1r) = graft.streaming.ClassifierIngest.weightsAt(
        spark, prefix, 1L, numBuckets = 4)
      assert(w1r.toSeq === w1.toSeq && bias1r === bias1,
        "crash-replayed weights diverged")
      assert(spark.table(prefix + "_marks").count() == 2)
    } finally dropAll()
  }

  test("bm25 ingest: grown index equals the one-shot build; replay dupes absorbed") {
    import spark.implicits._
    val prefix = "graft_test_bm25_ingest"
    def dropAll(): Unit = for (t <- Seq("_postings", "_stats"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    try {
      val all = Seq(
        (1L, "apple banana apple"),
        (2L, "banana cherry"),
        (3L, "cherry cherry cherry durian"),
        (4L, "apple durian banana cherry"),
        (5L, "   ")) // token-free: must stay out of n_docs
        .toDF("doc_id", "text")
      val b0 = all.filter(col("doc_id") <= 2)
      val b1 = all.filter(col("doc_id") > 2)
      graft.streaming.SearchIngest.applyBm25Batch(
        b0, 0L, "doc_id", "text", prefix)
      graft.streaming.SearchIngest.applyBm25Batch(
        b1, 1L, "doc_id", "text", prefix)
      val queries = Seq((0L, "apple"), (0L, "cherry"), (1L, "durian"))
        .toDF("query_id", "term")
      def indexed() = graft.ext.Retrieval.bm25TopKIndexed(
        graft.streaming.SearchIngest.dedupedPostings(
          spark.table(prefix + "_postings")),
        graft.streaming.SearchIngest.statsOf(spark, prefix),
        queries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      val oneShot = graft.ext.Retrieval.bm25TopK(all, queries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      assert(indexed().toSeq === oneShot.toSeq)
      // duplicate-absorbing read plans exchange-free over the bucketed
      // layout (HashPartitioning(term) satisfies the grouping)
      val p = graft.streaming.SearchIngest.dedupedPostings(
        spark.table(prefix + "_postings")).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"deduped read re-shuffled:\n$p")
      // worst crash window: batch 1's postings landed but its stats row
      // (the watermark) was lost — replay re-appends exact duplicates
      val keep = spark.table(prefix + "_stats")
        .filter(col("__last_batch") === 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      graft.core.Materialize.dropWithLocation(spark, prefix + "_stats")
      keep.toDF("n_docs", "n_tokens", "__last_batch")
        .write.saveAsTable(prefix + "_stats")
      graft.streaming.SearchIngest.applyBm25Batch(
        b1, 1L, "doc_id", "text", prefix)
      assert(indexed().toSeq === oneShot.toSeq,
        "replayed postings must collapse to the same scores")
      assert(spark.table(prefix + "_stats").count() == 2)
      graft.core.CacheRegistry.releaseAll()
    } finally dropAll()
  }

  test("near-dup ingest: an empty (fully gated-away) batch leaves the chain intact") {
    import spark.implicits._
    val prefix = "graft_test_nd_empty"
    def dropAll(): Unit = for (t <- Seq("_docs", "_bands", "_shingles"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    try {
      val b0 = Seq((10L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      graft.streaming.CorpusIngest.applyNearDupBatch(
        b0, 0L, "doc_id", "text", prefix)
      // batch 1 contributes nothing (everything gated upstream); the
      // lastApplied watermark stays at 0 — harmless, since replaying an
      // empty batch is itself a no-op
      graft.streaming.CorpusIngest.applyNearDupBatch(
        b0.limit(0), 1L, "doc_id", "text", prefix)
      assert(spark.table(prefix + "_docs").count() == 1)
      // batch 2 still ingests normally against the index
      graft.streaming.CorpusIngest.applyNearDupBatch(
        Seq((30L, "the quick brown fox jumps over the lazy dog today"),
          (31L, "a genuinely novel document about something else entirely"))
          .toDF("doc_id", "text"), 2L, "doc_id", "text", prefix)
      val got = spark.table(prefix + "_docs")
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(10L, 31L), "30 drops vs the index; 31 joins")
    } finally dropAll()
  }

  test("near-dup ingest releases its persist barriers per trigger (no cache accretion)") {
    import spark.implicits._
    val prefix = "graft_test_nd_leak"
    def dropAll(): Unit = for (t <- Seq("_docs", "_bands", "_shingles"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    graft.core.CacheRegistry.releaseAll()
    try {
      for (i <- 0L until 3L) {
        graft.streaming.CorpusIngest.applyNearDupBatch(
          Seq((100L + i, s"document number $i with its own distinct words ${i * 7}"))
            .toDF("doc_id", "text"), i, "doc_id", "text", prefix)
        // a continuous stream must not accrete cached frames trigger
        // over trigger — each applyNearDupBatch ends fully released
        assert(graft.core.CacheRegistry.trackedCount == 0,
          s"trigger $i leaked ${graft.core.CacheRegistry.trackedCount} cached frames")
      }
      assert(spark.table(prefix + "_docs").count() == 3)
    } finally dropAll()
  }

  test("a trigger's scoped release leaves caller-owned tracked state intact") {
    import spark.implicits._
    val prefix = "graft_test_nd_scope"
    def dropAll(): Unit = for (t <- Seq("_docs", "_bands", "_shingles"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    dropAll()
    graft.core.CacheRegistry.releaseAll()
    try {
      // caller-owned tracked cache AND broadcast, registered BEFORE the
      // library call — a releaseAll() inside the trigger would destroy
      // the broadcast and hard-fail the later lookup
      val mine = graft.core.CacheRegistry.persistTracked(
        Seq((1L, "caller")).toDF("id", "tag"))
      mine.count()
      val bc = graft.core.CacheRegistry.broadcastTracked(
        spark.sparkContext.broadcast(Set(42L)))
      graft.streaming.CorpusIngest.applyNearDupBatch(
        Seq((7L, "a perfectly ordinary document")).toDF("doc_id", "text"),
        0L, "doc_id", "text", prefix)
      assert(graft.core.CacheRegistry.trackedCount == 1,
        "the trigger must release only its own frames")
      assert(mine.count() == 1L)
      assert(bc.value == Set(42L), "caller broadcast must survive the trigger")
    } finally {
      graft.core.CacheRegistry.releaseAll()
      dropAll()
    }
  }

  test("sentinel staging matches the fixture's ts encoding (INT64-nanos variant)") {
    // Re-encode the fixture's events as INT64 nanos — the other physical
    // encoding the driver has shipped — and run the sentinel-staged outer
    // join against it. Before the encoding probe in Staging.withSentinel,
    // the staged dir mixed an INT64 fixture with an NTZ sentinel and the
    // pinned-schema stream read failed or corrupted ts.
    val nanosDir = java.nio.file.Files.createTempDirectory("graft_nanos_fix")
    try {
      graft.core.Tables.events(spark, sfDir)
        .withColumn("ts", unix_micros(col("ts")) * 1000L)
        .coalesce(1).write.mode("overwrite").parquet(s"$nanosDir/stage")
      val part = new java.io.File(s"$nanosDir/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$nanosDir/events.parquet"))
      val run = graft.queries.Registry.queries("st_stream_outer_join")
      val fromNanos = run(spark, nanosDir.toString)
      val fromNtz = run(spark, sfDir)
      assert(fromNanos.count() == fromNtz.count() && fromNanos.count() > 0,
        "nanos-encoded fixture must drain to the same result as the NTZ fixture")
      assert(fromNanos.exceptAll(fromNtz).isEmpty &&
        fromNtz.exceptAll(fromNanos).isEmpty)
    } finally {
      import scala.util.Try
      Try {
        java.nio.file.Files.walk(nanosDir)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      }
    }
  }

  test("concurrent scopes on two threads release only their own registrations") {
    import spark.implicits._
    graft.core.CacheRegistry.releaseAll()
    try {
      // Thread B registers a broadcast while thread A's scope is open;
      // A's scope exit must not destroy it (the two-streaming-queries-
      // in-one-session shape).
      val bReady = new java.util.concurrent.CountDownLatch(1)
      val aExited = new java.util.concurrent.CountDownLatch(1)
      @volatile var bBroadcast: org.apache.spark.broadcast.Broadcast[Set[Long]] = null
      val threadB = new Thread(() => {
        graft.core.CacheRegistry.scoped {
          bBroadcast = graft.core.CacheRegistry.broadcastTracked(
            spark.sparkContext.broadcast(Set(7L)))
          bReady.countDown()
          aExited.await() // hold B's scope open across A's exit
        }
      })
      threadB.start()
      graft.core.CacheRegistry.scoped {
        val aFrame = graft.core.CacheRegistry.persistTracked(
          Seq((1L, "a")).toDF("id", "tag"))
        aFrame.count()
        bReady.await()
      }
      // A has exited; B's broadcast must still be alive and usable
      assert(bBroadcast.value == Set(7L),
        "thread A's scope exit must not destroy thread B's broadcast")
      aExited.countDown()
      threadB.join()
      assert(graft.core.CacheRegistry.trackedCount == 0,
        "both scopes drained their own registrations")
    } finally {
      graft.core.CacheRegistry.releaseAll()
    }
  }

  test("hll ingest: cross-batch merge equals one-shot; replay appends nothing") {
    import spark.implicits._
    val prefix = "graft_test_hll_ingest"
    for (t <- Seq("_hll_regs", "_hll_est"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    try {
      val b0 = Seq(("s1", "alpha"), ("s1", "beta"), ("s2", "alpha"))
        .toDF("source", "term")
      val b1 = Seq(("s1", "alpha"), ("s1", "gamma"), ("s2", "delta"))
        .toDF("source", "term")
      graft.streaming.SketchIngest.applyBatch(b0, 0L, "term", "source", prefix)
      graft.streaming.SketchIngest.applyBatch(b1, 1L, "term", "source", prefix)
      // the drained register state must equal a one-shot build over the
      // union — the mergeability contract, register for register
      val drained = spark.table(prefix + "_hll_regs")
        .groupBy("source", "reg").agg(max("rho").as("rho"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
      val oneShot = graft.functions.HyperLogLog
        .registers(b0.unionByName(b1), "term", Seq("source"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
      assert(drained == oneShot)
      // batch-1 estimates cover ALL sources seen so far and match the
      // one-shot estimate over batches 0..1
      val est1 = spark.table(prefix + "_hll_est")
        .filter(col("batch_id") === 1L)
        .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
      val expect = graft.functions.HyperLogLog.estimate(
          graft.functions.HyperLogLog.registers(
            b0.unionByName(b1), "term", Seq("source")), Seq("source"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(est1 == expect)
      // at-least-once replay: applied batch re-arrives → nothing changes
      val regsBefore = spark.table(prefix + "_hll_regs").count()
      val estBefore = spark.table(prefix + "_hll_est").count()
      graft.streaming.SketchIngest.applyBatch(b1, 1L, "term", "source", prefix)
      assert(spark.table(prefix + "_hll_regs").count() == regsBefore)
      assert(spark.table(prefix + "_hll_est").count() == estBefore)
      // and even WITHOUT the guard, register appends are idempotent by
      // max-collapse: simulate the crash-before-est-write path
      graft.functions.HyperLogLog.registers(b1, "term", Seq("source"))
        .write.mode("append").format("parquet")
        .saveAsTable(prefix + "_hll_regs")
      val collapsed = spark.table(prefix + "_hll_regs")
        .groupBy("source", "reg").agg(max("rho").as("rho"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
      assert(collapsed == oneShot, "replayed registers collapse in the max")
    } finally for (t <- Seq("_hll_regs", "_hll_est"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
  }

  test("bloom novelty gate: first contact novel, repeats seen, replay-safe") {
    import spark.implicits._
    val prefix = "graft_test_bloom_nov"
    for (t <- Seq("_bloom_pos", "_bloom_novel"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    try {
      val b0 = Seq("u1", "u2", "u3").toDF("key")
      val b1 = Seq("u2", "u4", null).toDF("key")
      graft.streaming.SketchIngest.applyBloomBatch(b0, 0L, "key", prefix, 4, 4096)
      graft.streaming.SketchIngest.applyBloomBatch(b1, 1L, "key", prefix, 4, 4096)
      def novel(b: Long) = spark.table(prefix + "_bloom_novel")
        .filter(col("batch_id") === b)
        .collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
      // batch 0 probes an empty filter: everything is novel
      assert(novel(0L) == Map("u1" -> true, "u2" -> true, "u3" -> true))
      // batch 1: u2 was inserted in batch 0 → seen; u4 novel (no
      // collision at this load: 12 set bits in m=4096); null dropped
      assert(novel(1L) == Map("u2" -> false, "u4" -> true))
      // crash-before-novelty-write replay: batch 1's positions are
      // already in the table, but the probe filters batch_id < 1, so a
      // recompute still sees the pre-batch filter → u4 stays novel
      spark.table(prefix + "_bloom_novel")
        .filter(col("batch_id") === 1L).write.mode("overwrite")
        .format("parquet").saveAsTable(prefix + "_tmp_guardless")
      graft.core.Materialize.dropWithLocation(spark, prefix + "_bloom_novel")
      graft.streaming.SketchIngest.applyBloomBatch(b1, 1L, "key", prefix, 4, 4096)
      assert(novel(1L) == Map("u2" -> false, "u4" -> true),
        "replay with own positions present must not flip novelty")
      // position dupes from that replay collapse under the probe's
      // DISTINCT: state is still ≤ k × distinct-keys positions
      val collapsed = spark.table(prefix + "_bloom_pos")
        .select("pos").distinct().count()
      assert(collapsed <= 4L * 5)
      // guarded replay: nothing appended
      val novBefore = spark.table(prefix + "_bloom_novel").count()
      graft.streaming.SketchIngest.applyBloomBatch(b1, 1L, "key", prefix, 4, 4096)
      assert(spark.table(prefix + "_bloom_novel").count() == novBefore)
    } finally for (t <- Seq("_bloom_pos", "_bloom_novel", "_tmp_guardless"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
  }

  test("cms ingest: estimates match the driver sketch over the prefix; replay-safe") {
    import spark.implicits._
    val prefix = "graft_test_cms_ing"
    for (t <- Seq("_cms_cnt", "_cms_cand", "_cms_est"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
    try {
      val b0 = Seq("a", "a", "a", "b", "b", "c").toDF("key")
      val b1 = Seq("c", "c", "c", "c", "a").toDF("key")
      graft.streaming.SketchIngest.applyCmsBatch(b0, 0L, "key", prefix, 2, 64, 2)
      graft.streaming.SketchIngest.applyCmsBatch(b1, 1L, "key", prefix, 2, 64, 2)
      def est(b: Long) = spark.table(prefix + "_cms_est")
        .filter(col("batch_id") === b)
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      // batch 0 tracks its top-2 {a, b}; batch 1's top-2 is {c, a},
      // so the tracked union grows to {a, b, c}
      assert(est(0L).keySet == Set("a", "b"))
      assert(est(1L).keySet == Set("a", "b", "c"))
      // every estimate == the driver-packed sketch over the same prefix
      // (same md5 buckets, so collisions — if any — agree exactly)
      val sk0 = graft.functions.CountMinSketch.build(b0.as[String], 2, 64)
      val sk1 = graft.functions.CountMinSketch.build(
        b0.unionByName(b1).as[String], 2, 64)
      for ((k, v) <- est(0L))
        assert(v == graft.functions.CountMinSketch.estimate(sk0, 2, 64, k))
      for ((k, v) <- est(1L))
        assert(v == graft.functions.CountMinSketch.estimate(sk1, 2, 64, k))
      // guarded replay: nothing changes
      val before = (spark.table(prefix + "_cms_cnt").count(),
        spark.table(prefix + "_cms_est").count())
      graft.streaming.SketchIngest.applyCmsBatch(b1, 1L, "key", prefix, 2, 64, 2)
      assert((spark.table(prefix + "_cms_cnt").count(),
        spark.table(prefix + "_cms_est").count()) == before)
      // guardless crash replay: duplicate count rows for batch 1 collapse
      // in the reader's dropDuplicates — the collapsed buckets are stable
      def collapsed() = spark.table(prefix + "_cms_cnt")
        .dropDuplicates("batch_id", "j", "pos")
        .groupBy("j", "pos").agg(sum("cnt").as("cnt"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val stable = collapsed()
      val b1Rows = spark.table(prefix + "_cms_cnt")
        .filter(col("batch_id") === 1L)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      b1Rows.toSeq.toDF("batch_id", "j", "pos", "cnt")
        .write.mode("append").format("parquet")
        .saveAsTable(prefix + "_cms_cnt")
      assert(collapsed() == stable, "replayed count rows collapse exactly")
    } finally for (t <- Seq("_cms_cnt", "_cms_cand", "_cms_est"))
      graft.core.Materialize.dropWithLocation(spark, prefix + t)
  }

  test("bloom compaction: positions collapse; guards and crash-replay survive the rewrite") {
    import spark.implicits._
    val a = "graft_test_bcpt_a" // compacted after batch 1
    val b = "graft_test_bcpt_b" // uncompacted twin — the ground truth
    val tbls = Seq("_bloom_pos", "_bloom_novel")
    for (p <- Seq(a, b); t <- tbls)
      graft.core.Materialize.dropWithLocation(spark, p + t)
    try {
      val b0 = Seq("u1", "u2", "u3").toDF("key")
      val b1 = Seq("u2", "u4").toDF("key")
      val b2 = Seq("u4", "u5", "u1").toDF("key")
      for (p <- Seq(a, b)) {
        graft.streaming.SketchIngest.applyBloomBatch(b0, 0L, "key", p, 4, 4096)
        graft.streaming.SketchIngest.applyBloomBatch(b1, 1L, "key", p, 4, 4096)
      }
      graft.streaming.SketchIngest.compactBloom(spark, a)
      // the compacted span is ≤ distinct-positions rows, all tagged with
      // the max COMMITTED batch id (1)
      val pos = spark.table(a + "_bloom_pos")
        .select("batch_id", "pos").as[(Long, Int)].collect()
      assert(pos.nonEmpty, "compacted table must not read empty (partition swap)")
      assert(pos.forall(_._1 == 1L), "compacted tag = max committed batch")
      assert(pos.length == pos.map(_._2).distinct.length, "positions distinct")
      // guard survives the rewrite: replaying committed batch 1 is a no-op
      val novBefore = spark.table(a + "_bloom_novel").count()
      graft.streaming.SketchIngest.applyBloomBatch(b1, 1L, "key", a, 4, 4096)
      assert(spark.table(a + "_bloom_novel").count() == novBefore)
      // crash-replay of an IN-FLIGHT batch 2 (positions written, novelty
      // lost before the crash) recomputed over the compacted state must
      // equal the uncompacted twin exactly
      for (p <- Seq(a, b)) {
        graft.functions.BloomSketch.positions(b2, "key", 4, 4096)
          .select(lit(2L).as("batch_id"), col("pos"))
          .write.mode("append").format("parquet")
          .saveAsTable(p + "_bloom_pos") // the orphan pre-crash write
        graft.streaming.SketchIngest.applyBloomBatch(b2, 2L, "key", p, 4, 4096)
      }
      def novel(p: String) = spark.table(p + "_bloom_novel")
        .select("batch_id", "key", "novel")
        .as[(Long, String, Boolean)].collect().toSet
      assert(novel(a) == novel(b),
        "novelty trajectory diverged after compaction")
      // the location swap cleans up after itself
      assert(graft.core.Materialize.versionDirs(spark, a + "_bloom_pos").size == 1)
    } finally for (p <- Seq(a, b); t <- tbls)
      graft.core.Materialize.dropWithLocation(spark, p + t)
  }

  /** A bloom monitor whose compaction crashes mid-swap against a
    * never-crashed twin. Both run batches 0-1; the twin compacts, the
    * crashed monitor leaves `crashedReplace`'s state instead (the first
    * compaction when `priorCompaction` is false, else a second one after
    * a clean first and batch 2). Then both run the next trigger and the
    * next compaction: trajectories and standing state must equal the
    * twin's, and exactly one version directory — the registered one —
    * may remain. */
  private def bloomCompactionCrash(tag: String, swapped: Boolean,
                                   priorCompaction: Boolean): Unit = {
    import spark.implicits._
    import graft.streaming.SketchIngest.{applyBloomBatch, compactBloom}
    val cra = s"graft_test_${tag}_a"
    val twn = s"graft_test_${tag}_b"
    val tbls = Seq("_bloom_pos", "_bloom_novel")
    for (p <- Seq(cra, twn); t <- tbls)
      graft.core.Materialize.dropWithLocation(spark, p + t)
    try {
      val bs = Seq(Seq("u1", "u2", "u3"), Seq("u2", "u4"), Seq("u4", "u5", "u1"),
        Seq("u6", "u2"), Seq("u7", "u5")).map(_.toDF("key"))
      val posT = cra + "_bloom_pos"
      var next = 0
      def trigger(): Unit = {
        for (p <- Seq(cra, twn))
          applyBloomBatch(bs(next), next.toLong, "key", p, 4, 4096)
        next += 1
      }
      trigger(); trigger()
      if (priorCompaction) {
        for (p <- Seq(cra, twn)) compactBloom(spark, p)
        trigger()
      }
      val before = locationOf(posT)
      // the frame compactBloom builds: the committed span collapsed
      // under the max committed batch id
      val maxC = (next - 1).toLong
      val collapsed = spark.table(posT).select("pos").distinct()
        .select(lit(maxC).as("batch_id"), col("pos"))
      val crashed = crashedReplace(posT, collapsed, swapped)
      compactBloom(spark, twn)
      assert(locationOf(posT).toUri.getPath ==
        (if (swapped) crashed else before).toUri.getPath,
        "precondition: the crash leaves the expected version registered")
      assert(graft.core.Materialize.versionDirs(spark, posT).size +
        (if (managedDirExists(posT)) 1 else 0) == 2,
        "precondition: the crash leaves a second data directory behind")
      trigger()
      for (p <- Seq(cra, twn)) compactBloom(spark, p)
      trigger()
      def nov(p: String) = spark.table(p + "_bloom_novel")
        .select("batch_id", "key", "novel")
        .as[(Long, String, Boolean)].collect().toSet
      def pos(p: String) = spark.table(p + "_bloom_pos")
        .select("batch_id", "pos").as[(Long, Int)].collect().toSet
      assert(nov(cra) == nov(twn), "crashed monitor diverged from its twin")
      assert(pos(cra) == pos(twn), "crashed standing state diverged from its twin")
      val dirs = graft.core.Materialize.versionDirs(spark, posT)
      assert(dirs.size == 1 && !managedDirExists(posT) &&
        dirs.head.toUri.getPath == locationOf(posT).toUri.getPath,
        s"the next compaction must leave only the registered version: $dirs")
    } finally for (p <- Seq(cra, twn); t <- tbls)
      graft.core.Materialize.dropWithLocation(spark, p + t)
  }

  test("compaction crash before SET LOCATION: orphan version swept, twin-equal") {
    bloomCompactionCrash("cpre", swapped = false, priorCompaction = true)
  }

  test("compaction crash after SET LOCATION: old version swept, twin-equal") {
    bloomCompactionCrash("cpost", swapped = true, priorCompaction = true)
  }

  test("first compaction crash after SET LOCATION: managed dir swept, twin-equal") {
    bloomCompactionCrash("cfirst", swapped = true, priorCompaction = false)
  }

  test("every table rewrite takes the atomic swap: schema and bucket spec kept") {
    import spark.implicits._
    import graft.core.Materialize
    import graft.streaming.SketchIngest._
    val p = "graft_test_atomic"
    val bkt = "graft_test_atomic_bkt"
    val sketchTbls = Seq("_hll_regs", "_hll_est", "_kmv_hashes", "_kmv_est",
      "_qsk_sample", "_qsk_q", "_bloom_pos", "_bloom_novel", "_cms_cnt",
      "_cms_cand", "_cms_est", "_hist_cnt", "_hist_q", "_cusum_daily",
      "_cusum_traj").map(p + _)
    (sketchTbls :+ bkt).foreach(Materialize.dropWithLocation(spark, _))
    try {
      val b = Seq(("a", "s1", 1.5, 1L), ("b", "s1", 7.0, 2L), ("a", "s2", 3.25, 3L))
        .toDF("key", "src", "v", "id")
        .withColumn("day", lit("2024-01-01").cast("date"))
      for (i <- 0L to 1L) {
        applyBatch(b, i, "key", "src", p)
        applyBatchKmv(b, i, "key", "src", p, k = 8)
        applyBatchQsk(b, i, "id", "v", "src", p, k = 8)
        applyBloomBatch(b, i, "key", p, 4, 4096)
        applyCmsBatch(b, i, "key", p, 2, 64, 2)
        applyHistBatch(b, i, "v", "src", p, width = 2d)
        applyCusumBatch(b, i, "v", "day", "src", p, slack = 0d)
      }
      // the id column comes second: the forget's USING join moves it first
      Materialize.bucketTable(spark, bkt,
        (1L to 20L).map(i => (s"v$i", i)).toDF("v", "k"), 4, Seq("k"))
      Materialize.bucketAppend(spark, bkt, Seq(("w", 21L)).toDF("v", "k"), 4, Seq("k"))
      val version = "[a-z_]+__v[0-9a-f]{32}".r
      def meta(t: String) = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      def pinned(rewrites: Seq[(String, () => Unit)]): Unit =
        for ((t, rewrite) <- rewrites) {
          val m0 = meta(t)
          rewrite()
          val m1 = meta(t)
          assert(m1.schema == m0.schema && m1.bucketSpec == m0.bucketSpec &&
            m1.partitionColumnNames == m0.partitionColumnNames &&
            m1.tableType == m0.tableType,
            s"$t left the atomic SET LOCATION branch:\n$m0\n$m1")
          assert(version.matches(locationOf(t).getName),
            s"$t is not registered at a version dir: ${locationOf(t)}")
        }
      pinned(Seq(
        p + "_hll_regs" -> (() => compactHll(spark, p)),
        p + "_kmv_hashes" -> (() => compactKmv(spark, p, 8)),
        p + "_qsk_sample" -> (() => compactQsk(spark, p, 8)),
        p + "_bloom_pos" -> (() => compactBloom(spark, p)),
        p + "_cms_cnt" -> (() => compactCms(spark, p)),
        p + "_hist_cnt" -> (() => compactHist(spark, p)),
        p + "_cusum_daily" -> (() => compactCusum(spark, p)),
        bkt -> (() => Materialize.bucketCompact(spark, bkt, 4, Seq("k"))),
        bkt -> (() => Materialize.bucketForget(spark, bkt, 4, Seq("k"), "k",
          Seq(3L, 17L).toDF("k")))))
      // compactCms rewrites the candidate table in the same call
      assert(version.matches(locationOf(p + "_cms_cand").getName))
      assert(meta(bkt).bucketSpec.exists(_.numBuckets == 4))
    } finally (sketchTbls :+ bkt).foreach(Materialize.dropWithLocation(spark, _))
  }

  test("cms + hll compaction: state collapses; estimates keep matching the uncompacted twin") {
    import spark.implicits._
    val a = "graft_test_ccpt_a"
    val b = "graft_test_ccpt_b"
    val cmsT = Seq("_cms_cnt", "_cms_cand", "_cms_est")
    val hllT = Seq("_hll_regs", "_hll_est")
    for (p <- Seq(a, b); t <- cmsT ++ hllT)
      graft.core.Materialize.dropWithLocation(spark, p + t)
    try {
      val b0 = Seq("a", "a", "b", "c").toDF("key")
      val b1 = Seq("c", "c", "a").toDF("key")
      val b2 = Seq("b", "b", "b", "d").toDF("key")
      val h0 = b0.select(col("key").as("term"), lit("s1").as("source"))
      val h1 = b1.select(col("key").as("term"), lit("s1").as("source"))
      val h2 = b2.select(col("key").as("term"), lit("s1").as("source"))
      for (p <- Seq(a, b)) {
        graft.streaming.SketchIngest.applyCmsBatch(b0, 0L, "key", p, 2, 64, 2)
        graft.streaming.SketchIngest.applyCmsBatch(b1, 1L, "key", p, 2, 64, 2)
        graft.streaming.SketchIngest.applyBatch(h0, 0L, "term", "source", p)
        graft.streaming.SketchIngest.applyBatch(h1, 1L, "term", "source", p)
      }
      graft.streaming.SketchIngest.compactCms(spark, a)
      graft.streaming.SketchIngest.compactHll(spark, a)
      // cnt collapsed to one row per (j, pos) in the committed span
      val cnt = spark.table(a + "_cms_cnt").select("batch_id", "j", "pos")
        .as[(Long, Int, Int)].collect()
      assert(cnt.forall(_._1 == 1L))
      assert(cnt.length == cnt.map(r => (r._2, r._3)).distinct.length)
      // regs collapsed to the 64-per-group max form
      val regs = spark.table(a + "_hll_regs")
      assert(regs.count() ==
        regs.groupBy("source", "reg").count().count())
      // guards survive: replaying committed batch 1 appends nothing
      val before = (spark.table(a + "_cms_est").count(),
        spark.table(a + "_hll_est").count())
      graft.streaming.SketchIngest.applyCmsBatch(b1, 1L, "key", a, 2, 64, 2)
      graft.streaming.SketchIngest.applyBatch(h1, 1L, "term", "source", a)
      assert((spark.table(a + "_cms_est").count(),
        spark.table(a + "_hll_est").count()) == before)
      // the NEXT trigger over compacted state equals the uncompacted twin
      for (p <- Seq(a, b)) {
        graft.streaming.SketchIngest.applyCmsBatch(b2, 2L, "key", p, 2, 64, 2)
        graft.streaming.SketchIngest.applyBatch(h2, 2L, "term", "source", p)
      }
      def cmsEst(p: String) = spark.table(p + "_cms_est")
        .select("batch_id", "key", "est")
        .as[(Long, String, Long)].collect().toSet
      def hllEst(p: String) = spark.table(p + "_hll_est")
        .select("batch_id", "source", "est")
        .as[(Long, String, Double)].collect().toSet
      assert(cmsEst(a) == cmsEst(b), "CMS estimates diverged after compaction")
      assert(hllEst(a) == hllEst(b), "HLL estimates diverged after compaction")
    } finally for (p <- Seq(a, b); t <- cmsT ++ hllT)
      graft.core.Materialize.dropWithLocation(spark, p + t)
  }

  test("drift monitor: one row per batch; an identical re-drain appends nothing") {
    import spark.implicits._
    val prefix = "graft_test_drift"
    graft.core.Materialize.dropWithLocation(spark, prefix + "_psi")
    val ref = (1L to 100L).map(i => (i, i * 10)).toDF("doc_id", "n_chars")
    val stage = java.nio.file.Files.createTempDirectory("graft_drift_spec")
    ref.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))
    def drain(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(stage.toString)
      val q = graft.streaming.DriftMonitor.psiIngest(
        stream, ref, "n_chars", binWidth = 500.0, prefix)
      try q.processAllAvailable() finally q.stop()
      spark.catalog.refreshTable(prefix + "_psi")
    }
    drain()
    val rows = spark.table(prefix + "_psi")
      .select("batch_id", "psi", "ks", "n_rows")
      .as[(Long, Double, Double, Long)].collect()
    assert(rows.length == 1 && rows.head._1 == 0L && rows.head._4 == 100L)
    assert(math.abs(rows.head._2) < 1e-4,
      s"batch == reference must score ~zero PSI, got ${rows.head._2}")
    assert(rows.head._3 == 0.0,
      s"batch == reference must score KS 0, got ${rows.head._3}")
    // a fresh stream over the SAME staged data replays batch 0: the
    // guard must find its row and append nothing
    drain()
    assert(spark.table(prefix + "_psi").count() == 1,
      "replayed batch ids must not duplicate monitor rows")
    graft.core.Materialize.dropWithLocation(spark, prefix + "_psi")
  }

  test("auto-compaction cadence: 6 triggers at compactEvery=2 stay bit-equal to the uncompacted twin") {
    import spark.implicits._
    val a = "graft_test_autocpt_a" // compactEvery = 2 (3 in-trigger compactions)
    val b = "graft_test_autocpt_b" // compactEvery = 0 — ground truth
    val tbls = Seq("_hll_regs", "_hll_est", "_bloom_pos", "_bloom_novel",
      "_cms_cnt", "_cms_cand", "_cms_est")
    for (p <- Seq(a, b); t <- tbls)
      graft.core.Materialize.dropWithLocation(spark, p + t)
    val staging = new graft.queries.StreamingQueries.Staging(spark)
    try {
      // 6 chunks with fresh + repeating keys so novelty, registers, and
      // counts all evolve across the compaction points
      val chunks = (0 until 6).map(i =>
        Seq(s"k$i", s"k${i + 1}", "common")
          .toDF("key").withColumn("src", lit("s1")))
      val feed = staging.chunkStream(chunks)
      for ((p, every) <- Seq(a -> 2, b -> 0)) {
        val q1 = graft.streaming.SketchIngest.hllIngest(
          feed(), "key", "src", p, compactEvery = every)
        try q1.processAllAvailable() finally q1.stop()
        val q2 = graft.streaming.SketchIngest.bloomNoveltyIngest(
          feed(), "key", p, k = 4, m = 4096, compactEvery = every)
        try q2.processAllAvailable() finally q2.stop()
        val q3 = graft.streaming.SketchIngest.cmsIngest(
          feed(), "key", p, d = 2, w = 64, topN = 2, compactEvery = every)
        try q3.processAllAvailable() finally q3.stop()
      }
      // trajectories bit-equal across the 3 in-trigger compactions
      def hll(p: String) = spark.table(p + "_hll_est")
        .select("batch_id", "src", "est", "n_new")
        .as[(Long, String, Double, Long)].collect().toSet
      def nov(p: String) = spark.table(p + "_bloom_novel")
        .select("batch_id", "key", "novel")
        .as[(Long, String, Boolean)].collect().toSet
      def cms(p: String) = spark.table(p + "_cms_est")
        .select("batch_id", "key", "est")
        .as[(Long, String, Long)].collect().toSet
      assert(hll(a) == hll(b), "HLL estimate trajectory diverged")
      assert(nov(a) == nov(b), "Bloom novelty trajectory diverged")
      assert(cms(a) == cms(b), "CMS estimate trajectory diverged")
      // the final cadence point (batch 5, (5+1)%2==0) compacted ALL
      // committed state: standing tables must be in collapsed form
      val regs = spark.table(a + "_hll_regs").select("src", "reg").collect()
      assert(regs.length == regs.distinct.length,
        "hll regs must be fully collapsed after the last cadence point")
      val pos = spark.table(a + "_bloom_pos")
        .select("batch_id", "pos").as[(Long, Int)].collect()
      assert(pos.forall(_._1 == 5L) && pos.map(_._2).distinct.length == pos.length,
        "bloom positions must be collapsed under the max committed id")
      val cnt = spark.table(a + "_cms_cnt").select("batch_id", "j", "pos")
        .as[(Long, Int, Int)].collect()
      assert(cnt.forall(_._1 == 5L) &&
        cnt.map(r => (r._2, r._3)).distinct.length == cnt.length,
        "cms buckets must be collapsed under the max committed id")
    } finally {
      staging.close()
      for (p <- Seq(a, b); t <- tbls)
        graft.core.Materialize.dropWithLocation(spark, p + t)
    }
  }

  test("kmv ingest: cadence bit-equal to uncompacted twin; replay and compaction idempotent") {
    import spark.implicits._
    val a = "graft_test_kmv_a" // compactEvery = 2
    val b = "graft_test_kmv_b" // compactEvery = 0 — ground truth
    val tbls = Seq("_kmv_hashes", "_kmv_est")
    for (p <- Seq(a, b); t <- tbls)
      graft.core.Materialize.dropWithLocation(spark, p + t)
    val staging = new graft.queries.StreamingQueries.Staging(spark)
    try {
      val chunks = (0 until 6).map(i =>
        ((0 to 8).map(j => s"k${i * 3 + j}") :+ "common")
          .toDF("key").withColumn("src", lit("s1")))
      val feed = staging.chunkStream(chunks)
      for ((p, every) <- Seq(a -> 2, b -> 0)) {
        val q = graft.streaming.SketchIngest.kmvIngest(
          feed(), "key", "src", p, k = 8, compactEvery = every)
        try q.processAllAvailable() finally q.stop()
      }
      def est(p: String) = spark.table(p + "_kmv_est")
        .select("batch_id", "src", "est", "n_new")
        .as[(Long, String, Double, Long)].collect().toSet
      assert(est(a) == est(b), "KMV estimate trajectory diverged")
      // the final cadence point compacted the standing state: ≤ k
      // distinct hashes per group remain
      val hs = spark.table(a + "_kmv_hashes")
        .select("src", "hash").as[(String, String)].collect()
      assert(hs.length == hs.distinct.length && hs.length <= 8,
        s"kmv hashes must be collapsed to bottom-k (got ${hs.length})")
      // replayed trigger: batch 5 re-applied is a committed no-op
      val est5 = est(a)
      graft.streaming.SketchIngest.applyBatchKmv(
        chunks(5), 5L, "key", "src", a, k = 8)
      assert(est(a) == est5, "replayed committed batch must be a no-op")
      // compaction is idempotent
      graft.streaming.SketchIngest.compactKmv(spark, a, 8)
      assert(est(a) == est5)
      val hs2 = spark.table(a + "_kmv_hashes")
        .select("src", "hash").as[(String, String)].collect()
      assert(hs2.sorted.toSeq == hs.sorted.toSeq)
    } finally {
      staging.close()
      for (p <- Seq(a, b); t <- tbls)
        graft.core.Materialize.dropWithLocation(spark, p + t)
    }
  }

  test("drift re-baseline: reference swaps from committed bins; crash replay identical; dupes collapse") {
    import spark.implicits._
    import graft.streaming.DriftMonitor.applyPsiRebaselineBatch
    val cra = "graft_test_drb_a" // bins-written-psi-lost crash at batch 2
    val twn = "graft_test_drb_b" // never-crashed twin
    val pin = "graft_test_drb_c" // pinned-reference control (psiIngest math)
    val tbls = Seq("_psi", "_psi_bins")
    for (p <- Seq(cra, twn, pin); t <- tbls)
      graft.core.Materialize.dropWithLocation(spark, p + t)
    try {
      val ref = (1L to 20L).toDF("v")
      val refBins = graft.ext.Corpus.binCounts(ref, "v", 5.0)
      // batches 0-2 share one distribution DISJOINT from the reference;
      // batch 3 shifts again; batch 4 lands in window 2 (ref = window 1)
      val b = Seq((21L to 40L), (21L to 40L), (21L to 40L),
        (41L to 60L), (41L to 60L)).map(r => r.toDF("v"))
      def run(prefix: String, ids: Seq[Int]): Unit = ids.foreach { i =>
        applyPsiRebaselineBatch(b(i), i.toLong, refBins, "v", 5.0, prefix,
          rebaselineEvery = 2)
      }
      run(twn, 0 to 4)
      // crash window on cra: batch 2's bins landed but its psi row was
      // lost — replay must recompute the same row, and the duplicate
      // bins must collapse when window 1 becomes the reference (batch 4)
      run(cra, 0 to 1)
      graft.ext.Corpus.binCounts(b(2), "v", 5.0)
        .select(lit(2L).as("batch_id"), col("bin"), col("n"))
        .write.mode("append").format("parquet")
        .saveAsTable(cra + "_psi_bins") // the orphan pre-crash write
      run(cra, 2 to 4)
      def psi(p: String) = spark.table(p + "_psi")
        .select("batch_id", "ref_window", "psi", "ks", "n_rows")
        .as[(Long, Long, Double, Double, Long)].collect().toSet
      assert(psi(cra) == psi(twn),
        "crash-replayed trajectory must equal the never-crashed twin")
      val rows = psi(twn).toSeq.sortBy(_._1)
      assert(rows.map(r => r._1 -> r._2) ==
        Seq(0L -> -1L, 1L -> -1L, 2L -> 0L, 3L -> 0L, 4L -> 1L),
        s"ref_window must record the scoring baseline: $rows")
      // the swap is LOAD-BEARING: batch 2 matches window 0 exactly, so
      // its re-baselined psi is near zero while the pinned control
      // (same math, reference never swaps) reads maximal drift
      val pinned = graft.ext.Corpus
        .psiDriftFromBins(refBins, graft.ext.Corpus.binCounts(b(2), "v", 5.0))
        .agg(sum(col("psi_term"))).head().getDouble(0)
      val rb2 = rows.find(_._1 == 2L).get._3
      assert(rb2 < 0.01 && pinned > 1.0,
        s"re-baselined psi $rb2 must be ~0 while pinned $pinned is large")
      // (batch 4 scores against window 1 = b2+b3 bins, which on cra
      // contain batch 2's bins TWICE from the replay — the trajectory
      // equality above is what proves the reader's dedupe collapses
      // them: a doubled b2 weight would shift cra's batch-4 psi)
    } finally for (p <- Seq(cra, twn, pin); t <- tbls)
      graft.core.Materialize.dropWithLocation(spark, p + t)
  }

  test("late-data merge row: in-budget late chunks merge, beyond-filter windows stay dropped") {
    val step = spark.read.parquet(s"$sfDir/events.parquet")
      .agg(max(col("event_id"))).head().getLong(0) / 3 + 1
    val out = graft.queries.Registry.queries("st_late_data_merge")(spark, sfDir)
      .select(col("window_start"), col("n_events"), col("max_event_id"))
      .collect()
      .map(r => (r.getTimestamp(0).toInstant
        .atZone(java.time.ZoneOffset.UTC).getHour, r.getLong(1), r.getLong(2)))
    assert(out.length == 12, "all 12 hour windows must have emitted updates")
    // hours 5-11: chunk 2 is late but inside the 6h budget — MERGED
    // (final max_event_id comes from chunk 2's id range)
    for ((h, _, mx) <- out if h >= 5)
      assert(mx >= 2 * step, s"hour $h must contain chunk-2 events (merge)")
    // hours 0-4: window end ≤ the 5:59 late filter — chunk 2 DROPPED
    for ((h, _, mx) <- out if h <= 4)
      assert(mx < 2 * step, s"hour $h must not contain chunk-2 events (drop)")
    // and the merged counts are the batch counts over the admitted set
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val expect = ev.filter(col("event_id") < 2 * step ||
        col("event_id") % 12 >= 5)
      .groupBy((col("event_id") % 12).as("h"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    for ((h, n, _) <- out)
      assert(n == expect(h), s"hour $h merged count must equal the batch count")
  }
}
