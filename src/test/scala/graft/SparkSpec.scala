package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM-wide instance). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // unique warehouse per test JVM — see GraftSession.local
      .config("spark.sql.warehouse.dir",
        s"target/graft-wh-test-${java.util.UUID.randomUUID().toString.take(8)}")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val SfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = SparkSpec.spark
  protected val sfDir: String = SparkSpec.SfDir

  /** The state `Materialize.replaceTable(table, df)` leaves when the
    * process dies mid-swap: `df` written in full to a fresh version
    * directory (bucketed by the table's own spec, as replaceTable writes
    * it) and — when `swapped` — the catalog pointed at it, but the
    * replaced version never deleted. Returns the version directory. */
  protected def crashedReplace(table: String, df: DataFrame,
                               swapped: Boolean): Path = {
    val version = new Path(spark.sessionState.conf.warehousePath,
      s"${table.toLowerCase}__v${java.util.UUID.randomUUID().toString.replace("-", "")}")
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec match {
        case Some(spec) => graft.core.Materialize.writeBucketed(df, version, spec)
        case None => df.write.parquet(version.toString)
      }
    if (swapped) {
      spark.sql(s"ALTER TABLE `$table` SET LOCATION '$version'")
      spark.catalog.refreshTable(table)
    }
    version
  }

  /** The registered location of a catalog table. */
  protected def locationOf(table: String): Path =
    new Path(spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).location)

  /** Whether `table`'s default managed directory exists in the warehouse. */
  protected def managedDirExists(table: String): Boolean = {
    val p = new Path(spark.sessionState.conf.warehousePath, table.toLowerCase)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
