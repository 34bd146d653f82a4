package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.LongType

import graft.core.Tables

/**
 * Fixture reads: a path's parquet schema is inferred once and reused
 * until the file changes, and every graft session reads an INT64
 * TIMESTAMP(NANOS) column the same way.
 */
class TablesSpec extends SparkSpec {

  /** Spark jobs `f` submits in this thread. A marker job after `f`
    * flushes the listener queue, which delivers events in order. */
  private def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft_tables_spec_${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-end" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      f
      sc.setJobGroup(s"$group-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "marker job never seen")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A copy of fixture `name` in `dir`: a path no earlier read has seen. */
  private def copyFixture(dir: java.nio.file.Path, name: String): Unit =
    Files.copy(java.nio.file.Paths.get(s"$sfDir/$name.parquet"),
      dir.resolve(s"$name.parquet"))

  test("a repeated fixture read submits no footer-inference job") {
    val dir = tempDir("graft_tables_once")
    Seq("lineitem", "events").foreach(copyFixture(dir, _))
    val d = dir.toString
    assert(jobsOf(Tables.lineitem(spark, d)) == 1, "the first read infers the schema")
    assert(jobsOf(Tables.lineitem(spark, d)) == 0)
    assert(jobsOf(Tables.raw(spark, d, "events")) == 1)
    assert(jobsOf(Tables.raw(spark, d, "events")) == 0)
    assert(jobsOf(Tables.events(spark, d)) == 0)
    assert(Tables.lineitem(spark, d).count() == Tables.lineitem(spark, sfDir).count())
  }

  test("a fixture path rewritten with another schema reads with the new schema") {
    import spark.implicits._
    val dir = tempDir("graft_tables_rewrite")
    val target = dir.resolve("t.parquet")
    def stageAs(df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val out = dir.resolve(s"w$mtime").toString
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val now = System.currentTimeMillis()
    stageAs(Seq(1L, 2L).toDF("a"), now - 60000L)
    assert(Tables.raw(spark, dir.toString, "t").columns.toSeq == Seq("a"))
    stageAs(Seq(("x", 3.5)).toDF("b", "c"), now)
    val reread = Tables.raw(spark, dir.toString, "t")
    assert(reread.columns.toSeq == Seq("b", "c"))
    assert(reread.as[(String, Double)].collect().toSeq == Seq(("x", 3.5)))
  }

  test("an INT64 TIMESTAMP(NANOS) column reads as LongType in a new session") {
    val file = new Path(tempDir("graft_tables_nanos").resolve("ts.parquet").toString)
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(file).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally w.close()
    val fresh = spark.newSession().read.parquet(file.toString)
    assert(fresh.schema("ts").dataType == LongType)
    assert(fresh.head().getLong(0) == 1700000000123456789L)
  }
}
