package graft.core

import org.apache.spark.sql.DataFrame

/**
 * Scan-parallelism repair for heavy per-row compute (optimization guide
 * §2.5 "input skew: one huge unsplittable file … repartition immediately
 * after the read", made scale-adaptive instead of a constant).
 *
 * The fixture tables ship as ONE parquet file each (single row group),
 * so every scan yields one input split and any expensive per-row lane
 * placed directly over it — payload byte-walks, pixel decode,
 * tokenize/minhash, blocked pair generation — runs on ONE core while
 * the other 31 idle. Measured r14: ext_er_score spent 4.5 s in 4 tasks;
 * the mm pixel family 5.9 s in 11 tasks.
 *
 * `widen` round-robin-repartitions a FILE-BACKED frame up to the
 * session's default parallelism, but only when the scan's file count is
 * below it — a production table with hundreds of splits passes through
 * untouched, so this never coalesces real parallelism and the exchange
 * it inserts only exists where the input layout starves the job. The
 * target derives from the cluster (`defaultParallelism`), the trigger
 * from the input layout (file count) — no local-core-count constant.
 *
 * Determinism: round-robin repartition keeps Spark's
 * sort-before-repartition (SPARK-23207) retry-stability, and every
 * consumer this is applied to is order/partitioning-insensitive
 * (integer-count aggregations, per-row maps, hash joins) — results are
 * bit-identical, only the split count changes.
 */
object Parallel {

  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // file count is a PROXY for scan splits: a table stored as few
    // files larger than maxPartitionBytes still splits wider than this
    // counts, so widen can insert a redundant (never harmful-to-results)
    // exchange there — acceptable at the measured call sites, which are
    // all heavy per-row lanes over small fixture-shaped inputs. The
    // probe costs one driver-side analysis + file listing per call;
    // NonFatal only, so a fatal error is never swallowed, and a frame
    // with no file-source leaves (inputFiles empty) is left untouched.
    val files =
      try df.inputFiles.length
      catch { case scala.util.control.NonFatal(_) => Int.MaxValue }
    if (files > 0 && files < target) df.repartition(target) else df
  }
}
