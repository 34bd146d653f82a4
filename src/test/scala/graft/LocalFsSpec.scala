package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.core.LocalFs
import graft.streaming.EventStream

/**
 * [[LocalFs]], the `file:` filesystem of every graft session: it answers
 * as stock `RawLocalFileSystem` does, the session really uses it, and a
 * durable write, a table swap and a streaming drain start no `chmod` or
 * `readlink` process.
 */
class LocalFsSpec extends SparkSpec {

  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  private def stockAndGraft(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val stock = new RawLocalFileSystem
    val graft = new LocalFs.RawFileSystem
    for (fs <- Seq(stock, graft)) fs.initialize(URI.create("file:///"), new Configuration)
    (stock, graft)
  }

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))

  test("create and mkdirs leave the modes stock RawLocalFileSystem leaves") {
    val (stock, graft) = stockAndGraft()
    val root = tempDir("graft_lfs_modes")
    for (octal <- Seq("644", "600", "755", "700")) {
      val perm = new FsPermission(octal)
      val Seq(s, g) = Seq("stock" -> stock, "graft" -> graft).map { case (tag, fs) =>
        val file = new Path(s"$root/$tag-$octal.bin")
        fs.create(file, perm, true, 4096, 1.toShort, 1L << 26, null).close()
        val dir = new Path(s"$root/$tag-$octal.d/sub")
        assert(fs.mkdirs(dir, perm))
        (mode(file), mode(dir), mode(dir.getParent))
      }
      assert(g == s, s"0$octal: graft $g vs stock $s")
    }
    assert(mode(new Path(s"$root/graft-644.bin")) == "rw-r--r--")
    assert(mode(new Path(s"$root/graft-700.d/sub")) == "rwx------")
  }

  test("getFileLinkStatus matches stock for a file, dir, symlink, dangling link and missing path") {
    val (stock, graft) = stockAndGraft()
    val root = tempDir("graft_lfs_links")
    val file = Files.write(root.resolve("f.txt"), "abc".getBytes)
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("link"), file)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    // every field, or the exception's class (stock follows a link given
    // as a qualified path, so a qualified dangling link does not exist)
    def outcome(fs: RawLocalFileSystem, p: Path): Either[Class[_], Seq[Any]] =
      scala.util.Try(fs.getFileLinkStatus(p)).toEither.left.map(_.getClass).map(st =>
        Seq(st.getPath, st.getLen, st.isDirectory, st.isSymlink,
          if (st.isSymlink) st.getSymlink else null, st.getModificationTime,
          st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
          st.getReplication, st.getBlockSize))
    for (name <- Seq("f.txt", "d", "link", "dangling", "missing");
         form <- Seq("plain", "qualified")) {
      val abs = root.resolve(name).toString
      val p = if (form == "plain") new Path(abs) else new Path(s"file:$abs")
      val (s, g) = (outcome(stock, p), outcome(graft, p))
      assert(g == s, s"$name ($form): graft $g vs stock $s")
    }
    assert(graft.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    assert(graft.getFileLinkStatus(new Path(root.resolve("dangling").toString)).isSymlink)
    assertThrows[java.io.FileNotFoundException](
      graft.getFileLinkStatus(new Path(root.resolve("missing").toString)))
  }

  test("a graft session's FileSystem and FileContext are the graft classes") {
    val fs = FileSystem.get(URI.create("file:///"), hadoopConf)
    assert(fs.isInstanceOf[LocalFs.FileSystem], fs.getClass.getName)
    val afs = FileContext.getFileContext(hadoopConf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFs.AbstractFs], afs.getClass.getName)
  }

  test("install evicts a stock file: instance cached before the session") {
    FileSystem.get(URI.create("file:///"), hadoopConf).close()
    val stock = FileSystem.get(URI.create("file:///"), new Configuration)
    assert(!stock.isInstanceOf[LocalFs.FileSystem], "a plain conf builds the stock class")
    try LocalFs.install(hadoopConf)
    finally {
      val fs = FileSystem.get(URI.create("file:///"), hadoopConf)
      assert(fs.isInstanceOf[LocalFs.FileSystem], fs.getClass.getName)
    }
  }

  test("a parquet write, a table swap and a 2-trigger upsert drain fork no chmod or readlink") {
    val table = "graft_test_lfs_upsert"
    val swapped = "graft_test_lfs_swap"
    for (t <- Seq(table, swapped)) graft.core.Materialize.dropWithLocation(spark, t)
    val stage = tempDir("graft_lfs_stage").toString
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    for (half <- 0 to 1)
      events.filter(col("event_id") % 2 === half).coalesce(1)
        .write.mode("append").parquet(stage)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      events.write.parquet(tempDir("graft_lfs_write").resolve("t").toString)
      graft.core.Materialize.replaceTable(spark, swapped, events.limit(10))
      graft.core.Materialize.replaceTable(spark, swapped, events.limit(20))
      val q = EventStream.upsertUserStats(EventStream.readEvents(spark, stage,
        globFilter = "*.parquet", maxFilesPerTrigger = 1), table)
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2, "two data triggers")
    } finally {
      rec.stop()
      for (t <- Seq(table, swapped)) graft.core.Materialize.dropWithLocation(spark, t)
    }
    val jfr = tempDir("graft_lfs_jfr").resolve("forks.jfr")
    rec.dump(jfr)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    val shell = commands.filter(c =>
      Set("chmod", "readlink").contains(c.trim.split("\\s+").head.split('/').last))
    assert(shell.isEmpty,
      s"${shell.size} chmod/readlink starts, e.g. ${shell.take(3).mkString("; ")}")
  }
}
