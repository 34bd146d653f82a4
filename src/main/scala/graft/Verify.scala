package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: only run queries whose name starts with the prefix
    val prefix = if (args.length > 2) args(2) else ""
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.local(cpus.toInt, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix)).foreach { case (name, fn) =>
      // one retry: a transient Spark-internal race (observed once in
      // hundreds of runs: CacheManager recache rebuilding a cached
      // relation whose file index was concurrently invalidated →
      // partitionSpec NPE mid-stream) must not zero a correctness row;
      // a DETERMINISTIC failure fails twice and is still reported
      Iterator.range(0, 2).exists { attempt =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok " +
            f"${(System.nanoTime() - t0) / 1e9}%.1fs" +
            (if (attempt > 0) " (retry)" else ""))
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name FAILED" +
            s"${if (attempt == 0) " (will retry)" else ""}: ${e.getMessage}")
          spark.catalog.clearCache()
          false
        }
      }
      // release per-query persist() barriers (dedup MinHash
      // frames etc.) so caches don't accumulate across the whole suite
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
