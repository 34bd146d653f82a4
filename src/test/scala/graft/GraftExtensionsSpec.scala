package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/**
 * `spark.sql.extensions` integration: a session built with
 * [[GraftExtensions]] gets the codegen'd `graft_cosine` SQL function, the
 * planner strategy for [[graft.plans.CosineTopK]], and the
 * [[graft.plans.FuseCosineTopK]] optimizer rule — so a user writing the
 * PLAIN declarative cosine-top-k DataFrame pattern gets the fused
 * no-shuffle operator without touching any graft API.
 */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Fresh session (same SparkContext) with the extensions injected —
    * extensions bind at session construction, so the shared test session
    * can't be reused. Active/default sessions are restored after. */
  private def withExtSession[A](f: SparkSession => A): A = {
    val prev = SparkSpec.spark // ensures the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  /** The declarative pattern, written with nothing but DataFrame code and
    * the injected SQL function — no graft.ext / graft.plans imports. */
  private def declarativeTopK(s: SparkSession, k: Int): DataFrame = {
    val emb = graft.core.Tables.embeddings(s, SparkSpec.SfDir)
    val probes = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val scored = emb.crossJoin(broadcast(probes))
      .withColumn("score",
        round(call_function("graft_cosine", col("embedding"), col("probe_vec"))
          + lit(1e-9), 6))
      .select(col("probe_id"), col("vec_id"), col("score"))
    scored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id")).orderBy(desc("score"), col("vec_id"))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  test("injected function resolves in SQL text") {
    withExtSession { s =>
      val r = s.sql(
        "SELECT round(graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6) AS c")
        .head().getDouble(0)
      assert(r == 1.0)
      val t = s.sql("SELECT graft_sorted_jaccard(array(3L, 2L, 1L), array(2L, 3L, 4L)), " +
        "graft_word_stats('a b\ta')").head()
      assert(t.getDouble(0) == 0.5)
      assert(t.getStruct(1) == org.apache.spark.sql.Row(3L, 3L, 2L))
    }
  }

  test("FuseCosineTopK rewrites the declarative pattern to the fused operator") {
    withExtSession { s =>
      val df = declarativeTopK(s, 5)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("CosineTopK"),
        s"expected fused node in optimized plan:\n$optimized")
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Window") && !physical.contains("Exchange"),
        s"fused plan must not shuffle or window:\n$physical")
    }
  }

  test("fused rewrite returns exactly the unfused results") {
    val expected = {
      val s = SparkSpec.spark
      graft.functions.GraftFunctions.register(s)
      declarativeTopK(s, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(expected.size == 15, "3 probes x k=5 expected rows")
    val fused = withExtSession { s =>
      declarativeTopK(s, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(fused == expected)
  }

  test("non-matching rank pattern is left untouched") {
    withExtSession { s =>
      // rank() instead of row_number(): keeps-ties semantics the fused
      // operator does not implement — must NOT be rewritten
      val emb = graft.core.Tables.embeddings(s, SparkSpec.SfDir)
      val probes = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val scored = emb.crossJoin(broadcast(probes))
        .withColumn("score",
          round(call_function("graft_cosine", col("embedding"), col("probe_vec"))
            + lit(1e-9), 6))
        .select(col("probe_id"), col("vec_id"), col("score"))
      val df = scored.withColumn("__rn", rank().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("probe_id")).orderBy(desc("score"), col("vec_id"))))
        .filter(col("__rn") <= 5).drop("__rn")
      assert(!df.queryExecution.optimizedPlan.toString.contains("CosineTopK"))
    }
  }
}
