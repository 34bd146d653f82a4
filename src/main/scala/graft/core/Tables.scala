package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Table registry over the driver's parquet fixtures (TESTDATA.md).
 *
 * Mirrors the reference's named-source indirection (dbt
 * `{{ source('traffic', 'raw_*') }}`, reference `5_dbt/READ.md:159,206,262,294`
 * — SURVEY §2.1 S3) as a thin function from (session, dir, name) to a
 * DataFrame, so pipelines never hard-code paths.
 *
 * Scale notes:
 *  - Parquet scans are Catalyst DataSource V2 scans: column pruning and
 *    predicate pushdown reach the file footer for free; callers should
 *    `select`/`filter` as early as possible so `PushedFilters`/`ReadSchema`
 *    show the pruned shape.
 *  - At 100 TB the same API points at a partitioned table root; nothing
 *    here assumes single-file inputs.
 *  - A plain `spark.read.parquet` submits one footer-inference job per
 *    read. Every read here goes through [[raw]], which infers a file's
 *    schema once and reads with it after that.
 */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables small enough to broadcast at any scale (true dimensions). */
  val dimensionNames: Set[String] = Set("region", "nation")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else raw(spark, dir, name)

  /** Fixture `name` as stored (`events.ts` keeps its physical encoding),
    * read with the schema last inferred for the same (qualified path,
    * modification time, length): only a new or rewritten file pays
    * Spark's footer-inference job. A column's inferred type depends on
    * session settings that [[GraftSession.configure]] fixes for every
    * session (`nanosAsLong` among them), so they are not part of the key. */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val key = st.getPath.toString
    val stamp = (st.getModificationTime, st.getLen)
    val schema = Option(schemas.get(key)).collect { case (`stamp`, s) => s }
      .getOrElse {
        val inferred = spark.read.parquet(path).schema
        schemas.put(key, (stamp, inferred))
        inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), StructType)]()

  /**
   * `events.ts` has shipped in two physical encodings across fixture
   * generations: INT64 TIMESTAMP(NANOS) — a type Spark's parquet reader
   * rejects outright (PARQUET_TYPE_ILLEGAL) — and plain TIMESTAMP(MICROS)
   * without a UTC flag (surfaced as TIMESTAMP_NTZ). Normalize both to one
   * logical contract: a TimestampType (session-TZ) column at microsecond
   * precision.
   *
   *  - Nanos files: every graft session sets the sanctioned escape
   *    hatch `spark.sql.legacy.parquet.nanosAsLong` ([[GraftSession]]),
   *    which surfaces the raw nanosecond count as LongType; truncate
   *    ns → µs with INTEGER division (`ts div 1000` — float division would lose precision:
   *    epoch-nanos ≈ 1.7e18 exceeds a double's 53-bit mantissa) and
   *    rebuild a TimestampType column. DuckDB performs the same ns → µs
   *    truncation, so oracle comparisons see identical values.
   *  - Micros/NTZ files: cast NTZ → TimestampType. The session timezone is
   *    pinned to UTC (GraftSession), so the cast is value-preserving and
   *    DuckDB (which reads the file as a naive timestamp) sees the same
   *    instants.
   */
  private def eventsNanoFixed(spark: SparkSession, dir: String): DataFrame = {
    val stored = raw(spark, dir, "events")
    val tsFixed = stored.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast(org.apache.spark.sql.types.TimestampType)
    }
    stored.withColumn("ts", tsFixed)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame = eventsNanoFixed(spark, dir)
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every fixture table as a temp view for `spark.sql` use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
