package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.ext.Similarity

/**
 * The fused cosine top-k ([[graft.plans.CosineTopK]], planned by
 * [[graft.plans.FuseCosineTopK]] in every graft session) returns exactly
 * the rows of the declarative plan it replaces. Each case runs a top-k
 * shape twice — rule on, and rule excluded through
 * `spark.sql.optimizer.excludedRules` — over FLOAT and DOUBLE vectors,
 * with expression codegen on and off, and compares the rows as
 * multisets, doubles bit for bit.
 */
class FusedTopKSpec extends SparkSpec {

  private val Rule = "graft.plans.FuseCosineTopK"

  /** Adversarial vectors: exact ties broken by id, a zero vector, a NULL
    * vector, NULL and NaN elements, a NULL id, opposite directions. */
  private lazy val adversarial: DataFrame = {
    def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    val rows = Seq(
      Row(1L, v(1d, 0d, 0d)),
      Row(2L, v(1d, 0d, 0d)),           // ties id 1: id decides
      Row(3L, v(0d, 0d, 0d)),           // zero norm: NULL score
      Row(4L, null),                    // NULL vector: NULL score
      Row(5L, v(1d, null, 1d)),         // NULL element counts as 0
      Row(null, v(0.5d, 0.5d, 0d)),     // NULL id: ranks before ties
      Row(6L, v(-1d, 0d, 0d)),
      Row(7L, v(0d, 1d, 0d)),
      Row(8L, v(Double.NaN, 1d, 0d)),   // NaN score ranks first
      Row(9L, v(0.5d, 0.5d, 0d)))       // ties the NULL id
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
  }

  /** Probes: a scoring probe, a zero and a NULL probe (every score NULL),
    * a NULL probe id. */
  private def probesOf(vecs: DataFrame): DataFrame = {
    val et = vecs.schema("embedding").dataType
    val rows = Seq(
      Row(100L, Seq(1d, 0d, 0d)),
      Row(101L, Seq(0d, 0d, 0d)),
      Row(102L, null),
      Row(null, Seq(0d, 1d, 1d)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("probe_id", LongType),
          StructField("probe_vec", ArrayType(DoubleType)))))
      .select(col("probe_id"), col("probe_vec").cast(et).as("probe_vec"))
  }

  private def fixture: DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  private def topK(vecs: DataFrame, k: Int): DataFrame =
    Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      probesOf(vecs), "probe_id", "probe_vec", k)

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    kvs.foreach { case (key, value) => spark.conf.set(key, value) }
    try body finally kvs.foreach { case (key, _) => spark.conf.unset(key) }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Runs `shape` over FLOAT and DOUBLE vectors, codegen on and off, and
    * asserts the rule fires and the rows equal the rule-excluded plan. */
  private def sameRows(base: => DataFrame)(shape: DataFrame => DataFrame): Unit =
    for {
      elem <- Seq(FloatType, DoubleType)
      codegen <- Seq(true, false)
    } {
      val conf = if (codegen) Nil else Seq(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      withConf(conf: _*) {
        def build() = shape(base.withColumn("embedding",
          col("embedding").cast(ArrayType(elem))))
        val fused = build()
        val plan = fused.queryExecution.executedPlan.toString
        assert(plan.contains("CosineTopK"), s"$elem: the rule must fire:\n$plan")
        val got = rowsOf(fused)
        val (refPlan, want) = withConf("spark.sql.optimizer.excludedRules" -> Rule) {
          val ref = build()
          (ref.queryExecution.executedPlan.toString, rowsOf(ref))
        }
        assert(!refPlan.contains("CosineTopK"), s"$elem: rule excluded:\n$refPlan")
        assert(got == want, s"$elem codegen=$codegen")
      }
    }

  test("fused top-k equals the rule-excluded plan: ties, NULL/zero/NaN vectors, NULL ids") {
    sameRows(adversarial)(topK(_, 3))
  }

  test("fused top-k equals the rule-excluded plan: fewer than k scored candidates") {
    sameRows(adversarial)(topK(_, 8))
  }

  test("fused top-k equals the rule-excluded plan: k larger than the table") {
    sameRows(adversarial)(topK(_, 50))
  }

  test("fused top-k equals the rule-excluded plan: trailing score IS NOT NULL filter") {
    sameRows(adversarial)(topK(_, 8).filter(col("score").isNotNull))
  }

  test("fused top-k equals the rule-excluded plan: duplicate probe ids rank together") {
    sameRows(adversarial) { vecs =>
      val probes = probesOf(vecs)
      Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        probes.unionByName(probes.withColumn("probe_vec", reverse(col("probe_vec")))),
        "probe_id", "probe_vec", k = 4)
    }
  }

  test("fused top-k equals the rule-excluded plan: fixture embeddings over 7 partitions") {
    sameRows(fixture) { vecs =>
      val probes = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Similarity.bruteForceTopK(vecs.repartition(7), "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 5)
    }
  }

  test("fused kNN graph equals the rule-excluded plan: self excluded, NULL ids and vectors") {
    sameRows(adversarial)(Similarity.knnGraph(_, "vec_id", "embedding", k = 2))
  }

  test("fused kNN graph equals the rule-excluded plan: k larger than the table") {
    sameRows(adversarial)(Similarity.knnGraph(_, "vec_id", "embedding", k = 20))
  }

  test("fused kNN graph equals the rule-excluded plan: fixture embeddings") {
    sameRows(fixture.limit(120))(Similarity.knnGraph(_, "vec_id", "embedding", k = 3))
  }

  test("other shapes are left to Catalyst: INT ids, rank(), a non-self join condition") {
    val vecs = adversarial.filter(col("vec_id").isNotNull)
    val intIds = topK(vecs.withColumn("vec_id", col("vec_id").cast("int")), 3)
    val probes = probesOf(vecs)
    val scored = vecs.crossJoin(broadcast(probes))
      .withColumn("score", round(Similarity.cosineNative(col("embedding"),
        col("probe_vec")) + lit(1e-9), 6))
    def ranked(df: DataFrame, f: org.apache.spark.sql.Column) = df
      .withColumn("__rn", f.over(org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(desc("score"), col("vec_id"))))
      .filter(col("__rn") <= 3).select("probe_id", "vec_id", "score")
    val ranks = ranked(scored, rank())
    val otherJoin = ranked(scored.filter(col("vec_id") < col("probe_id")), row_number())
    Seq(intIds, ranks, otherJoin).foreach { df =>
      assert(!df.queryExecution.optimizedPlan.toString.contains("CosineTopK"))
    }
  }
}
