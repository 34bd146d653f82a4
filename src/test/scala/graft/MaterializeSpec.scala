package graft

import org.apache.spark.sql.functions._
import graft.core.Materialize
import graft.core.Materialize._

/**
 * Incremental-materialization semantics (the dbt `incremental` policy):
 * merge-by-key must upsert (replace matched keys, keep the rest), and
 * insert_overwrite must replace exactly the touched partitions.
 */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("bucketAppend grows a bucketed table in place and keeps the join " +
      "exchange-free on the bucket key") {
    val day0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val day1 = Seq((4L, "d"), (5L, "e")).toDF("k", "v")
    Materialize.bucketTable(spark, "graft_test_grow", day0,
      buckets = 4, bucketCols = Seq("k"))
    val grown = Materialize.bucketAppend(spark, "graft_test_grow", day1,
      buckets = 4, bucketCols = Seq("k"))
    assert(grown.count() == 5)
    assert(grown.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
    // the appended table must still join bucket-to-bucket: no Exchange
    // upstream of the table scan side
    val probe = Seq((2L, 9), (5L, 9)).toDF("k", "p")
    val j = spark.table("graft_test_grow")
      .join(probe.hint("shuffle_hash"), Seq("k"))
    val plan = j.queryExecution.executedPlan.toString
    val scanSide = plan.linesIterator
      .filter(_.contains("graft_test_grow")).mkString
    assert(scanSide.contains("SelectedBucketsCount") ||
      !plan.contains("Exchange hashpartitioning(k"),
      s"bucketed side must not re-shuffle on k:\n$plan")
  }

  test("bucketCompact rewrites to one file per bucket; rows and join shape survive") {
    val name = "graft_test_compact_bkt"
    Materialize.dropWithLocation(spark, name)
    val day0 = (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
    Materialize.bucketTable(spark, name, day0, buckets = 4,
      bucketCols = Seq("k"))
    // three appends accrete files the way the streaming ingest does
    for (d <- 1 to 3)
      Materialize.bucketAppend(spark,
        name, Seq((40L + d, s"w$d")).toDF("k", "v"),
        buckets = 4, bucketCols = Seq("k"))
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, name)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files() = fs.listStatus(loc)
      .count(_.getPath.getName.endsWith(".parquet"))
    val before = files()
    assert(before > 4, s"appends should accrete files, saw $before")
    val expected = spark.table(name).collect().map(_.toSeq).toSet
    val after = Materialize.bucketCompact(spark, name, buckets = 4,
      bucketCols = Seq("k"))
    assert(after <= 4, s"one file per bucket expected, saw $after")
    assert(spark.table(name).collect().map(_.toSeq).toSet == expected,
      "compaction must be a pure rewrite")
    // the compacted table still joins bucket-to-bucket
    val probe = Seq((2L, 9), (41L, 9)).toDF("k", "p")
    val plan = spark.table(name).join(probe.hint("shuffle_hash"), Seq("k"))
      .queryExecution.executedPlan.toString
    val scanSide = plan.linesIterator.filter(_.contains(name)).mkString
    assert(scanSide.contains("SelectedBucketsCount") ||
      !plan.contains("Exchange hashpartitioning(k"),
      s"compacted bucketed side must not re-shuffle on k:\n$plan")
    // no stage/backup residue
    assert(!spark.catalog.tableExists(s"${name}__compact_stage"))
    assert(!spark.catalog.tableExists(s"${name}__compact_old"))
    Materialize.dropWithLocation(spark, name)
  }

  test("bucketForget removes exactly the ids; bucket layout and join shape survive") {
    val name = "graft_test_forget_bkt"
    Materialize.dropWithLocation(spark, name)
    val rows = (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
    Materialize.bucketTable(spark, name, rows, buckets = 4,
      bucketCols = Seq("k"))
    val gone = Seq(3L, 17L, 40L).toDF("k")
    Materialize.bucketForget(spark, name, buckets = 4,
      bucketCols = Seq("k"), "k", gone)
    val kept = spark.table(name).select("k").as[Long].collect().toSet
    assert(kept == (1L to 40L).toSet -- Set(3L, 17L, 40L),
      "forget must remove exactly the listed ids")
    // the rewritten table still joins bucket-to-bucket
    val probe = Seq((2L, 9), (19L, 9)).toDF("k", "p")
    val plan = spark.table(name).join(probe.hint("shuffle_hash"), Seq("k"))
      .queryExecution.executedPlan.toString
    val scanSide = plan.linesIterator.filter(_.contains(name)).mkString
    assert(scanSide.contains("SelectedBucketsCount") ||
      !plan.contains("Exchange hashpartitioning(k"),
      s"forgotten bucketed side must not re-shuffle on k:\n$plan")
    assert(!spark.catalog.tableExists(s"${name}__compact_stage"))
    assert(!spark.catalog.tableExists(s"${name}__compact_old"))
    Materialize.dropWithLocation(spark, name)
  }

  test("incremental merge upserts by unique key and keeps unmatched rows") {
    val name = "graft_test_inc_merge"
    Materialize.dropWithLocation(spark, name)
    val load1 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "grp", "v")
    materialize(spark, name, load1, AsIncremental(uniqueKey = Seq("id")))
    // key 2 corrected, key 4 new; keys 1 and 3 untouched
    val load2 = Seq((2L, "b", 99L), (4L, "d", 40L)).toDF("id", "grp", "v")
    val out = materialize(spark, name, load2, AsIncremental(uniqueKey = Seq("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 10L, 2L -> 99L, 3L -> 30L, 4L -> 40L))
    Materialize.dropWithLocation(spark, name)
  }

  test("incremental insert_overwrite replaces only the touched partitions") {
    val name = "graft_test_inc_part"
    Materialize.dropWithLocation(spark, name)
    val load1 = Seq((1L, 10L, "d1"), (2L, 20L, "d1"), (3L, 30L, "d2"))
      .toDF("id", "v", "day")
    materialize(spark, name, load1, AsIncremental(partitionCols = Seq("day")))
    // d2 fully replaced (row 3 dropped, 5 added); d1 untouched
    val load2 = Seq((5L, 50L, "d2"), (6L, 60L, "d3")).toDF("id", "v", "day")
    val out = materialize(spark, name, load2,
        AsIncremental(partitionCols = Seq("day")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set((1L, 10L, "d1"), (2L, 20L, "d1"), (5L, 50L, "d2"), (6L, 60L, "d3")))
    Materialize.dropWithLocation(spark, name)
  }

  test("partition-scoped merge rewrites touched partitions, leaves the rest byte-identical") {
    val name = "graft_test_inc_scoped"
    Materialize.dropWithLocation(spark, name)
    val policy = AsIncremental(uniqueKey = Seq("id", "day"),
      partitionCols = Seq("day"))
    val load1 = Seq((1L, 10L, "d1"), (2L, 20L, "d1"), (3L, 30L, "d2"), (4L, 40L, "d3"))
      .toDF("id", "v", "day")
    materialize(spark, name, load1, policy)
    // snapshot the d1 partition's physical files before the second batch
    val warehouse = spark.sessionState.conf.warehousePath.stripPrefix("file:")
    val d1Dir = new java.io.File(s"$warehouse/${name.toLowerCase}/day=d1")
    def fileState(d: java.io.File): Map[String, (Long, Long)] =
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val d1Before = fileState(d1Dir)
    assert(d1Before.nonEmpty)
    // batch 2 touches d2 (key 3 corrected) and d3 (key 5 added); d1 untouched
    val load2 = Seq((3L, 99L, "d2"), (5L, 50L, "d3")).toDF("id", "v", "day")
    val out = materialize(spark, name, load2, policy)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // merge semantics: key (3, d2) replaced, (4, d3) kept, (5, d3) added
    assert(out == Set((1L, 10L, "d1"), (2L, 20L, "d1"), (3L, 99L, "d2"),
      (4L, 40L, "d3"), (5L, 50L, "d3")))
    // the untouched partition's files were not rewritten (same name,
    // size, AND mtime — a rewrite would replace the file names)
    assert(fileState(d1Dir) == d1Before,
      "untouched partition must not be rewritten by a scoped merge")
    Materialize.dropWithLocation(spark, name)
  }

  test("replaceTable: a failed write leaves the previous version registered and no partial version") {
    val name = "graft_test_replace_fail"
    Materialize.dropWithLocation(spark, name)
    try {
      Materialize.replaceTable(spark, name,
        spark.range(0, 10).select(col("id").as("k"), lit("a").as("v")))
      val live = Materialize.versionDirs(spark, name)
      assert(live.size == 1)
      val bad = spark.range(0, 100, 1, 4).select(col("id").as("k"),
        when(col("id") === 99L, raise_error(lit("boom"))).otherwise(lit("b")).as("v"))
      intercept[Exception](Materialize.replaceTable(spark, name, bad))
      assert(spark.table(name).as[(Long, String)].collect().toSet ==
        (0L until 10L).map(_ -> "a").toSet, "previous rows must stay readable")
      assert(Materialize.versionDirs(spark, name) == live,
        "the failed write must not leave a partial version dir")
    } finally Materialize.dropWithLocation(spark, name)
  }

  test("replaceTable keeps one version dir per table; dropWithLocation removes it") {
    val name = "graft_test_replace_versions"
    Materialize.dropWithLocation(spark, name)
    Materialize.replaceTable(spark, name, spark.range(0, 10).toDF("k"))
    for (i <- 1 to 3) {
      // each replace reads the version it replaces, as the upsert fold does
      Materialize.replaceTable(spark, name,
        spark.table(name).unionByName(spark.range(10 * i, 10 * (i + 1)).toDF("k")))
      assert(spark.table(name).as[Long].collect().toSet == (0L until 10L * (i + 1)).toSet)
      val dirs = Materialize.versionDirs(spark, name)
      assert(dirs.size == 1, s"exactly one version dir expected, saw $dirs")
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name)).location
      assert(new org.apache.hadoop.fs.Path(loc).toUri.getPath == dirs.head.toUri.getPath,
        "the catalog must point at the live version")
    }
    Materialize.dropWithLocation(spark, name)
    assert(!spark.catalog.tableExists(name))
    assert(Materialize.versionDirs(spark, name).isEmpty)
  }

  test("replaceTable re-registers the schema when a replace widens a column") {
    val name = "graft_test_replace_widen"
    Materialize.dropWithLocation(spark, name)
    try {
      Materialize.replaceTable(spark, name, Seq((1L, 1)).toDF("k", "v"))
      // the delete+insert merge widens v to BIGINT through its union
      materialize(spark, name, Seq((2L, 5000000000L)).toDF("k", "v"),
        AsIncremental(uniqueKey = Seq("k")))
      assert(spark.table(name).schema("v").dataType == org.apache.spark.sql.types.LongType)
      assert(spark.table(name).as[(Long, Long)].collect().toSet ==
        Set((1L, 1L), (2L, 5000000000L)))
      assert(Materialize.versionDirs(spark, name).size == 1)
    } finally Materialize.dropWithLocation(spark, name)
  }

  test("incremental without key or partitions is rejected") {
    val name = "graft_test_inc_bad"
    Materialize.dropWithLocation(spark, name)
    val load = Seq((1L, 1L)).toDF("id", "v")
    materialize(spark, name, load, AsIncremental())   // first run: full build, fine
    intercept[IllegalArgumentException] {
      materialize(spark, name, load, AsIncremental()) // second run has no strategy
    }
    Materialize.dropWithLocation(spark, name)
  }

  test("incremental first run is a plain full build") {
    val name = "graft_test_inc_first"
    Materialize.dropWithLocation(spark, name)
    val load = Seq((1L, 1L), (2L, 2L)).toDF("id", "v")
    val out = materialize(spark, name, load, AsIncremental(uniqueKey = Seq("id")))
    assert(out.count() == 2)
    Materialize.dropWithLocation(spark, name)
  }

  test("compact shrinks a fragmented table without changing its rows") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_compact_spec").toString + "/t"
    val src = graft.core.Tables.lineitem(spark, sfDir)
    src.repartition(24).write.mode("overwrite").parquet(out)
    def parquetFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val nBefore = parquetFiles
    assert(nBefore == 24)
    val before = spark.read.parquet(out)
      .orderBy("l_orderkey", "l_linenumber").collect()
    val nAfter = Materialize.compact(spark, out, targetFileMB = 128,
      sortCol = Some("l_orderkey"))
    assert(nAfter < nBefore, s"compaction must shrink the file count, got $nAfter")
    assert(parquetFiles == nAfter)
    val after = spark.read.parquet(out)
      .orderBy("l_orderkey", "l_linenumber").collect()
    assert(after.sameElements(before), "compaction must not change content")
  }

  test("zValue interleaves bits exactly and zorderCompact preserves content") {
    import graft.core.Layout
    // reference interleave in plain Scala
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i => (((a >> i) & 1L) << (2 * i)) |
        (((b >> i) & 1L) << (2 * i + 1))).sum
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L), (170L, 85L),
      (37L, 201L))
    val got = pairs.toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), bits = 8).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == pairs.map { case (a, b) => ref(a, b, 8) })
    // locality: equal high bits of both dims => same z prefix
    assert(ref(0xF0L, 0xF0L, 8) >> 8 == ref(0xF3L, 0xF1L, 8) >> 8)
    // compact roundtrip keeps rows
    val out = java.nio.file.Files.createTempDirectory("graft_z_spec").toString + "/t"
    val src = graft.core.Tables.supplier(spark, sfDir)
    src.write.mode("overwrite").parquet(out)
    Layout.zorderCompact(spark, out, "s_suppkey", "s_nationkey", bits = 8,
      nFiles = 4)
    val after = spark.read.parquet(out)
    assert(after.count() == src.count())
    assert(after.exceptAll(src).isEmpty && src.exceptAll(after).isEmpty)
  }

  test("snapshot tracks SCD2 history: close+reopen changed, keep deleted, open new") {
    val name = "graft_test_snap"
    Materialize.dropWithLocation(spark, name)
    val run1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "status")
    Materialize.snapshot(spark, name, run1, Seq("id"), Seq("status"), "t1")
    // id 1 changed, id 2 unchanged, id 3 absent (deleted), id 4 new
    val run2 = Seq((1L, "a2"), (2L, "b"), (4L, "d")).toDF("id", "status")
    val out = Materialize.snapshot(spark, name, run2, Seq("id"), Seq("status"), "t2")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getBoolean(4))).toSet
    assert(out == Set(
      (1L, "a", "t1", Some("t2"), false),   // closed old version
      (1L, "a2", "t2", None, true),         // reopened with new value
      (2L, "b", "t1", None, true),          // unchanged: still open from t1
      (3L, "c", "t1", None, true),          // deleted from source: stays open
      (4L, "d", "t2", None, true)))         // new key opens at t2
    // third run changes id 1 again: history accretes, never rewrites
    val run3 = Seq((1L, "a3")).toDF("id", "status")
    val out3 = Materialize.snapshot(spark, name, run3, Seq("id"), Seq("status"), "t3")
      .filter(col("id") === 1L).collect()
      .map(r => (r.getString(1), r.getString(2), Option(r.getString(3)))).toSet
    assert(out3 == Set(("a", "t1", Some("t2")), ("a2", "t2", Some("t3")),
      ("a3", "t3", None)))
    Materialize.dropWithLocation(spark, name)
  }

  test("warehouseDir: OS lock claims the stable dir; a foreign holder diverts") {
    val app = s"whlock-test-${System.nanoTime()}"
    val lock = new java.io.File("target", s"graft-wh-$app.lock")
    try {
      // fresh claim → stable dir (the OS lock is now held by this JVM)
      val first = graft.core.GraftSession.warehouseDir(app)
      assert(first == s"target/graft-wh-$app")
      // re-claim by the same process → same stable dir, not a divert
      assert(graft.core.GraftSession.warehouseDir(app) == first)
      // a FOREIGN holder (simulated by an untracked lock on a second
      // app's file — tryLock sees it exactly as another process's lock)
      // diverts this claimant to a pid-suffixed private dir. No stale
      // case exists: the OS releases the lock when the holder dies.
      val app2 = s"whlock-test2-${System.nanoTime()}"
      val lock2 = new java.io.File("target", s"graft-wh-$app2.lock")
      val ch = new java.io.RandomAccessFile(lock2, "rw").getChannel
      val foreign = ch.lock()
      try {
        val diverted = graft.core.GraftSession.warehouseDir(app2)
        assert(diverted ==
          s"target/graft-wh-$app2-pid${ProcessHandle.current().pid()}")
      } finally { foreign.release(); ch.close(); lock2.delete() }
    } finally lock.delete()
  }
}
