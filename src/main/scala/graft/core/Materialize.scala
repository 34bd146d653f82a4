package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.GraftPlanBridge
import org.apache.spark.sql.types.StructType

/**
 * Materialization policy — SURVEY §2.1 S6/S8.
 *
 * dbt declares per-layer materialization (staging → view,
 * intermediate/marts → table, reference `5_dbt/READ.md:125-133,386-396`)
 * and the DAG pipelines load into warehouse tables
 * (`to_sql`/`to_gbq`, reference `1_AWS/README.md:133-134`,
 * `3_BigQuery/READ.md:106`). Here the same policy is explicit: a view
 * stays a lazy plan in the session catalog (zero storage, re-optimized
 * per query); a table persists through the warehouse catalog
 * (`saveAsTable`), optionally partitioned for downstream pruning.
 */
object Materialize {

  sealed trait Policy
  /** Lazy named plan (dbt `materialized: view`). */
  case object AsView extends Policy
  /** Catalog-persisted table (dbt `materialized: table`; the warehouse
    * sink S6 — swap the format/catalog for BigQuery/Snowflake on a real
    * deployment). */
  final case class AsTable(partitionCols: Seq[String] = Nil,
                           mode: SaveMode = SaveMode.Overwrite) extends Policy
  /**
   * dbt `materialized: incremental` (reference `5_dbt/READ.md:386-396`) —
   * the policy that makes 100 TB marts viable: each run folds ONLY the new
   * batch into the existing table instead of rebuilding it.
   *
   * Two public dbt strategies, chosen by the fields:
   *  - `uniqueKey` non-empty → delete+insert merge: existing rows whose
   *    key appears in the increment are replaced, others kept. First run
   *    (no table yet) is a plain full build.
   *  - `uniqueKey` empty + `partitionCols` non-empty → insert_overwrite:
   *    dynamic partition overwrite replaces exactly the partitions the
   *    increment touches — no key join at all, the at-scale shape when
   *    batches align with partitions (e.g. daily loads into a day-
   *    partitioned mart).
   */
  final case class AsIncremental(uniqueKey: Seq[String] = Nil,
                                 partitionCols: Seq[String] = Nil) extends Policy

  /**
   * Bucketed catalog table: co-locates rows by hash(bucketCols) at WRITE
   * time so equi-joins and aggregations on those keys plan with NO
   * exchange — the shuffle is paid once at ingest instead of per query.
   * The 100 TB pattern for repeatedly-joined fact tables.
   */
  def bucketTable(spark: SparkSession, name: String, df: DataFrame,
                  buckets: Int, bucketCols: Seq[String]): DataFrame = {
    dropWithLocation(spark, name)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)
    spark.table(name)
  }

  /** Append rows to an existing bucketed table created by
    * [[bucketTable]] — the bucket spec must match the table's. This is
    * how a persisted index GROWS (e.g. appending a day's accepted
    * documents' band/shingle rows, `Dedup.nearDupIndex`): new files land
    * in the matching buckets, so the exchange-free join property is
    * preserved without rewriting history. */
  def bucketAppend(spark: SparkSession, name: String, df: DataFrame,
                   buckets: Int, bucketCols: Seq[String]): DataFrame = {
    df.write.mode(SaveMode.Append)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)
    spark.table(name)
  }

  /**
   * OPTIMIZE for a bucketed table grown by [[bucketAppend]]: rewrite it
   * to ONE file per bucket, preserving the bucket spec (and so the
   * exchange-free join property). Append-only growth — the ingest
   * family appends per micro-batch — accretes one file per touched
   * bucket per append, and scans eventually drown in per-file
   * open/footer cost; this is the periodic maintenance step that lets
   * an append-forever index stay scannable. A [[bucketRewrite]] with
   * `xform = identity`: the same location swap and the same obligation
   * to run quiesced relative to appends. Returns the parquet file count
   * after the rewrite.
   */
  def bucketCompact(spark: SparkSession, name: String,
                    buckets: Int, bucketCols: Seq[String]): Long =
    bucketRewrite(spark, name, buckets, bucketCols)(identity)

  /**
   * Rewrite a bucketed table through `xform`, preserving the bucket
   * spec (and so every exchange-free join the layout pre-paid):
   * [[bucketCompact]] is `xform = identity`, [[bucketForget]] an
   * anti-join. Commits as a [[replaceTable]] location swap (the version
   * is written with the table's own bucket spec), so a crash leaves one
   * complete version registered. Run quiesced relative to appends: an
   * append landing in the old version mid-rewrite is swapped away with
   * it. The pre-write `repartition(buckets, cols)` uses the bucket
   * spec's hash, so each task writes exactly one bucket's file. Returns
   * the parquet file count of the registered version.
   */
  def bucketRewrite(spark: SparkSession, name: String,
                    buckets: Int, bucketCols: Seq[String])
                   (xform: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    // the repartition below matches the source's bucketed partitioning,
    // so the planner elides its shuffle — which is only correct if the
    // scan actually GROUPS files by bucket. Auto-bucketed-scan would
    // degrade it to an arbitrary file grouping (no operator after the
    // write "exploits" the bucketing as far as it can see) and each
    // task would then hold a bucket MIX, writing tasks × buckets files;
    // pin the bucketed scan on for the rewrite. (A broadcast-joining
    // xform preserves the child partitioning, so the elision survives
    // the forget path too.)
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    try {
      val t = spark.table(name)
      // back in the table's column order (a USING join moves its key
      // first), so the swap keeps the catalog entry and its bucket spec
      replaceTable(spark, name, xform(t).select(t.columns.map(col): _*)
        .repartition(buckets, bucketCols.map(col): _*))
    } finally spark.conf.set(autoKey, prevAuto)
    val loc = locationOf(spark, name).get
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc).count(_.getPath.getName.endsWith(".parquet")).toLong
  }

  /**
   * FORGET: remove every row whose `idCol` appears in `ids` from a
   * bucketed table — the takedown/right-to-erasure maintenance step a
   * standing dedup or ANN index needs (a forgotten document must stop
   * gating future near-dups of itself). Parquet has no row deletes, so
   * this is a [[bucketRewrite]] anti-join: cost is one table rewrite,
   * run at takedown cadence (batched, like compaction), and the bucket
   * spec — hence every exchange-free probe — survives. The forget set
   * is broadcast; at real scale it is always tiny relative to the
   * corpus.
   */
  def bucketForget(spark: SparkSession, name: String,
                   buckets: Int, bucketCols: Seq[String],
                   idCol: String, ids: DataFrame): Long =
    bucketRewrite(spark, name, buckets, bucketCols)(
      _.join(org.apache.spark.sql.functions.broadcast(
          ids.select(org.apache.spark.sql.functions.col(idCol))),
        Seq(idCol), "left_anti"))

  /**
   * Small-file compaction: rewrite a parquet path into ~`targetFileMB`
   * files. Streaming sinks and incremental appends accrete tiny files
   * whose per-file open/footer cost eventually dominates scans — the
   * operational 100 TB failure mode OPTIMIZE/compaction jobs exist for.
   * File count is derived from actual bytes on disk (never a guess), the
   * rewrite is staged-then-swapped so a crash mid-compact can't lose the
   * table, and `sortCol` optionally re-sorts so min/max row-group stats
   * stay selective after the rewrite.
   */
  def compact(spark: SparkSession, path: String, targetFileMB: Int = TargetFileMB,
              sortCol: Option[String] = None): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = filesFor(fs.getContentSummary(p).getLength, targetFileMB)
    val df = spark.read.parquet(path)
    val arranged = sortCol match {
      case Some(c) => df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(c))
        .sortWithinPartitions(c)
      case None => df.repartition(nFiles)
    }
    val stage = java.nio.file.Files.createTempDirectory("graft_compact")
    try {
      arranged.write.mode(SaveMode.Overwrite).parquet(stage.toString)
      val staged = spark.read.parquet(stage.toString)
      staged.write.mode(SaveMode.Overwrite).parquet(path)
    } finally deleteRecursively(stage)
    fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
  }

  /** Target file size of a table rewrite ([[compact]], [[replaceTable]]). */
  private val TargetFileMB = 128

  /** Files for `bytes` of table data at ~`targetFileMB` each (at least one). */
  private def filesFor(bytes: Long, targetFileMB: Int): Int =
    math.min(Int.MaxValue, math.max(1L, bytes / (targetFileMB.toLong << 20))).toInt

  /** Local scratch directories that outlive the call that made them
    * (a lazy frame still reads them), deleted by one shutdown hook. */
  private val deletedOnExit =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => deletedOnExit.forEach(d => deleteRecursively(d))))

  /** A fresh `java.io.tmpdir` directory, deleted when the JVM exits. */
  private[graft] def tempDirDeletedOnExit(prefix: String): java.nio.file.Path = {
    exitHook
    val d = java.nio.file.Files.createTempDirectory(prefix)
    deletedOnExit.add(d)
    d
  }

  /** Best-effort recursive delete of a local scratch directory. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally stream.close()
    }
  }

  /** The warehouse's filesystem and qualified root. */
  private def warehouseOf(spark: SparkSession): (FileSystem, Path) = {
    val wh = new Path(spark.sessionState.conf.warehousePath)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(wh))
  }

  /** A catalog table's metadata (None for a missing table or a temp view). */
  private def tableMeta(spark: SparkSession, name: String): Option[CatalogTable] = {
    val id = TableIdentifier(name)
    val cat = spark.sessionState.catalog
    if (cat.tableExists(id)) Some(cat.getTableMetadata(id)) else None
  }

  private def locationOf(spark: SparkSession, name: String): Option[Path] =
    tableMeta(spark, name).map(m => new Path(m.location))

  private def isUnder(fs: FileSystem, root: Path)(p: Path): Boolean =
    fs.makeQualified(p).toUri.getPath.startsWith(root.toUri.getPath + "/")

  /** The [[replaceTable]] version directories of `name` in the warehouse
    * (`<name>__v<32 hex>`), live or orphaned. */
  private[graft] def versionDirs(spark: SparkSession, name: String): Seq[Path] = {
    val (fs, wh) = warehouseOf(spark)
    val version = (java.util.regex.Pattern.quote(name.toLowerCase) + "__v[0-9a-f]{32}").r
    if (!fs.exists(wh)) Nil
    else fs.listStatus(wh).toSeq.map(_.getPath).filter(p => version.matches(p.getName))
  }

  /** Drop a table AND its data: the registered location when it lies
    * under the warehouse (an external location elsewhere is not ours to
    * delete), every [[replaceTable]] version directory of the name, and
    * the default managed location (which can survive from a previous
    * session whose in-memory catalog is gone). */
  def dropWithLocation(spark: SparkSession, name: String): Unit = {
    val (fs, wh) = warehouseOf(spark)
    val registered = locationOf(spark, name).filter(isUnder(fs, wh))
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    (registered.toSeq ++ versionDirs(spark, name) :+ new Path(wh, name.toLowerCase))
      .foreach(fs.delete(_, true))
  }

  /**
   * dbt `snapshot` (SCD type-2, strategy = check): capture attribute
   * history of a mutable source. Each run compares the source's rows
   * with the snapshot's OPEN rows per `keys`:
   *  - new keys open a row (valid_from = asOf, valid_to = NULL),
   *  - keys whose `checkCols` changed close the old row at asOf and open
   *    a new one,
   *  - unchanged keys and keys absent from the source are left untouched
   *    (dbt's default — deletions do not invalidate).
   * `valid_to IS NULL ⟺ is_current`, so any as-of query is a range
   * filter on (valid_from, valid_to).
   *
   * At scale the only keyed work is one shuffle join of the open slice
   * against the batch; closed history is carried through untouched (a
   * transactional format would not rewrite it at all — same caveat as
   * the AsIncremental merge path).
   */
  def snapshot(spark: SparkSession, name: String, source: DataFrame,
               keys: Seq[String], checkCols: Seq[String],
               asOf: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val srcCols = keys ++ checkCols
    val src = source.select(srcCols.map(col): _*)
    val stamped = src
      .withColumn("valid_from", lit(asOf))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true))
    if (!spark.catalog.tableExists(name)) {
      materialize(spark, name, stamped, AsTable())
    } else {
      val snap = spark.table(name)
      val open = snap.filter(col("is_current"))
      val closedHist = snap.filter(!col("is_current"))
      val o = open.alias("o")
      val n = src.alias("n")
      val changeCond = checkCols
        .map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)
      val changed = o.join(n, keys, "inner").filter(changeCond)
        .transform(CacheRegistry.persistTracked)
      val closedNow = changed.select(
        keys.map(col) ++ checkCols.map(c => col(s"o.$c").as(c)) ++ Seq(
          col("o.valid_from").as("valid_from"), lit(asOf).as("valid_to"),
          lit(false).as("is_current")): _*)
      val openedNow = changed.select(
        keys.map(col) ++ checkCols.map(c => col(s"n.$c").as(c)) ++ Seq(
          lit(asOf).as("valid_from"), lit(null).cast("string").as("valid_to"),
          lit(true).as("is_current")): _*)
      val keptOpen = open.join(changed.select(keys.map(col): _*), keys, "left_anti")
      val newOpen = stamped.join(open.select(keys.map(col): _*), keys, "left_anti")
      // `next` reads the table it replaces: replaceTable writes it to a
      // fresh version before the catalog moves off the old one
      replaceTable(spark, name, closedHist.unionByName(keptOpen)
        .unionByName(closedNow).unionByName(openedNow).unionByName(newOpen))
    }
  }

  /** Cluster rows by the partition columns before a partitioned write:
    * without this, every one of the N shuffle tasks holding rows of a
    * partition emits its own file, so a 32-task write into 30 day-
    * partitions lands ~960 tiny files — the small-file write storm that
    * makes partitioned loads I/O-bound. One hash shuffle on the partition
    * cols gives one file per partition per (rare) hash collision instead.
    * At 100 TB grain, huge single partitions would instead want
    * `repartition(n, parts :+ salt)` — documented in SCALE.md. */
  private def clusterByParts(df: DataFrame, parts: Seq[String]): DataFrame =
    if (parts.isEmpty) df
    else df.repartition(parts.map(org.apache.spark.sql.functions.col): _*)

  /** Run `body` with dynamic partition-overwrite mode, restoring the
    * previous setting after. */
  private def withDynamicOverwrite[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Materialize `df` under `name` per the policy; returns the readable
    * relation (the view/table as a fresh DataFrame). */
  def materialize(spark: SparkSession, name: String, df: DataFrame,
                  policy: Policy): DataFrame = policy match {
    case AsView =>
      df.createOrReplaceTempView(name)
      spark.table(name)
    case AsTable(parts, mode) =>
      if (mode == SaveMode.Overwrite) dropWithLocation(spark, name)
      val w = clusterByParts(df, parts).write.mode(mode)
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).saveAsTable(name)
      spark.table(name)

    case AsIncremental(keys, parts) =>
      if (!spark.catalog.tableExists(name)) {
        // first run: plain full build (dbt's is_incremental() == false)
        materialize(spark, name, df, AsTable(parts))
      } else if (keys.isEmpty && parts.nonEmpty) {
        // insert_overwrite: replace only the partitions in the increment.
        // Dynamic mode keeps untouched partitions; insertInto is
        // position-based, so project into the table's column order.
        val cols = spark.table(name).columns.toSeq
        withDynamicOverwrite(spark) {
          clusterByParts(df.select(cols.map(org.apache.spark.sql.functions.col): _*), parts)
            .write.mode(SaveMode.Overwrite).insertInto(name)
        }
        spark.table(name)
      } else if (parts.nonEmpty) {
        // keys + partitions → PARTITION-SCOPED keyed merge: only the
        // partitions the increment touches are read, merged, and
        // rewritten; untouched partitions' files are never opened (the
        // touched-value IN-filter prunes them at the scan) and survive
        // byte-identical. This is what makes keyed merges viable at
        // 100 TB on plain parquet: cost scales with the increment's
        // partition footprint, not the table size.
        import org.apache.spark.sql.functions.{col, lit}
        val cols = spark.table(name).columns.toSeq
        // Touched-partition set: distinct partition values of the
        // increment. Collected to literals so the kept-rows scan gets
        // static partition pruning (a join would read every file).
        // Bounded by the table's partition count — thousands, not rows.
        val touched = df.select(parts.map(col): _*).distinct().collect()
        // Pruning-friendly predicate: single-col partitions get a plain
        // IN; multi-col get OR-of-AND equalities (both shapes the
        // catalog's partition pruner understands — a struct-IN does not).
        val inSet =
          if (touched.isEmpty) lit(false)
          else if (parts.size == 1)
            col(parts.head).isInCollection(touched.map(_.get(0)).toSeq)
          else touched.map { r =>
            parts.zipWithIndex.map { case (p, i) => col(p) === lit(r.get(i)) }
              .reduce(_ && _)
          }.reduce(_ || _)
        val kept = spark.table(name).filter(inSet).join(df, keys, "left_anti")
        val replacement = kept.unionByName(df)
          .select(cols.map(col): _*)
        // Spark refuses to overwrite a table it is reading in the same
        // query, so the replacement slice (touched partitions only — the
        // increment's footprint, not the table) is staged first, then
        // dynamic overwrite swaps exactly those partitions in.
        val stagePath = java.nio.file.Files.createTempDirectory("graft_inc_part_stage")
        try {
          clusterByParts(replacement, parts).write
            .mode(SaveMode.Overwrite).parquet(stagePath.toString)
          withDynamicOverwrite(spark) {
            spark.read.parquet(stagePath.toString)
              .select(cols.map(col): _*)
              .write.mode(SaveMode.Overwrite).insertInto(name)
          }
        } finally deleteRecursively(stagePath)
        spark.table(name)
      } else {
        require(keys.nonEmpty, "AsIncremental needs uniqueKey or partitionCols")
        // delete+insert merge on an UNPARTITIONED table: keep existing
        // rows whose key is absent from the increment, then append the
        // increment — necessarily a full rewrite (there is no partition
        // grain to scope it to; on Iceberg/Delta a MERGE INTO would
        // replace this).
        replaceTable(spark, name,
          spark.table(name).join(df, keys, "left_anti").unionByName(df))
      }
  }

  /**
   * Atomically replace a table's full contents with `df` — which MAY
   * read from the table itself (the delete+insert merge, the
   * streaming-upsert fold, the SCD2 [[snapshot]], the sketch
   * compactions and [[bucketRewrite]] all do, and all commit through
   * here). A location swap:
   *
   *  1. `df` is written ONCE to a fresh version directory
   *     `<warehouse>/<name>__v<uuid>`. A bucketed table's version is
   *     written with the table's own bucket spec (one file per bucket
   *     per task, as `bucketBy` writes); any other version as ~128 MB
   *     files sized by the bytes of the version it replaces (the
   *     [[compact]] rule; a first version is sized by Catalyst's
   *     estimate of `df`).
   *  2. The catalog is pointed at it: `ALTER TABLE … SET LOCATION`, or
   *     on first creation `catalog.createTable` with the frame's schema
   *     (all columns nullable, as parquet stores them), so no job infers
   *     the schema from file footers.
   *  3. The replaced version — any version orphaned by an earlier
   *     crash, and the name's default managed directory — is deleted.
   *
   * Failure positions: a failure in 1 or 2 leaves the previous version
   * registered and readable — nothing was dropped, so no earlier fold
   * is lost; the new version is deleted, or, if the process died,
   * orphaned until the next replace or [[dropWithLocation]] sweeps it.
   * A failure in 3 leaves the new version live and the old directory
   * orphaned, swept the same way. A previous location outside the
   * warehouse (an external table) is swapped away from but never
   * deleted. A replacement that changes the table's shape (schema,
   * partitioning or format) cannot reuse the catalog entry: it is
   * dropped and re-created, unbucketed, over the new version, which is
   * not atomic.
   *
   * A caller that has already folded old and new state into one frame
   * calls this directly instead of paying [[AsIncremental]]'s additional
   * keep-rows anti-join over the table.
   */
  def replaceTable(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    val (fs, wh) = warehouseOf(spark)
    val schema = StructType(df.schema.map(_.copy(nullable = true)))
    val meta = tableMeta(spark, name)
    val prev = meta.map(m => fs.makeQualified(new Path(m.location)))
    // a same-shape replace keeps the catalog entry (and its bucket spec)
    val swappable = meta.exists(m =>
      m.provider.exists(_.equalsIgnoreCase("parquet")) &&
        m.partitionColumnNames.isEmpty &&
        m.schema.catalogString == schema.catalogString)
    val version = new Path(wh,
      s"${name.toLowerCase}__v${java.util.UUID.randomUUID().toString.replace("-", "")}")
    try {
      meta.filter(_ => swappable).flatMap(_.bucketSpec) match {
        case Some(spec) => writeBucketed(df, version, spec)
        case None =>
          // a first version has no bytes to size by: Catalyst's size
          // estimate of the frame stands in (no job; unknown means keep
          // the partitioning)
          val bytes = prev.fold(df.queryExecution.optimizedPlan.stats.sizeInBytes)(p =>
            BigInt(fs.getContentSummary(p).getLength))
          val sized =
            if (bytes < spark.sessionState.conf.defaultSizeInBytes)
              df.coalesce(filesFor(bytes.toLong, TargetFileMB))
            else df
          sized.write.parquet(version.toString)
      }
      if (swappable) spark.sql(s"ALTER TABLE `$name` SET LOCATION '$version'")
      else {
        meta.foreach(_ => spark.sql(s"DROP TABLE `$name`"))
        spark.catalog.createTable(name, "parquet", schema, Map("path" -> version.toString))
      }
    } catch {
      case e: Throwable =>
        // unless the catalog already moved off the previous version,
        // nothing references the new one
        if (locationOf(spark, name).map(fs.makeQualified) == prev) fs.delete(version, true)
        throw e
    }
    (prev.filter(isUnder(fs, wh)).toSeq ++ versionDirs(spark, name) :+ new Path(wh, name.toLowerCase))
      .filter(fs.makeQualified(_) != version)
      .foreach(fs.delete(_, true))
    spark.table(name)
  }

  /** Write `df` to `path` laid out by a bucketed table's `spec` — the
    * files `bucketBy(…).sortBy(…).saveAsTable` writes (bucket id in each
    * file name, rows sorted within a file), without creating a table.
    * The writer has no path-only bucketed form, so this plans the same
    * insert command that `saveAsTable` plans. */
  private[graft] def writeBucketed(df: DataFrame, path: Path, spec: BucketSpec): Unit =
    GraftPlanBridge.ofRows(df.sparkSession, InsertIntoHadoopFsRelationCommand(
      outputPath = path, staticPartitions = Map.empty,
      ifPartitionNotExists = false, partitionColumns = Nil,
      bucketSpec = Some(spec), fileFormat = new ParquetFileFormat,
      options = Map.empty, query = df.queryExecution.analyzed,
      mode = SaveMode.ErrorIfExists, catalogTable = None, fileIndex = None,
      outputColumnNames = df.columns.toSeq))
}
