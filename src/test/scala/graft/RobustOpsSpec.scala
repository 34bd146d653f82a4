package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ops.{RangeJoin, Windows}
import graft.ext.{Association, TextOps}

/** New-op specs: interval-overlap join, association rules, CUSUM,
  * readability, streaming histogram quantiles. */
class RobustOpsSpec extends SparkSpec {

  import spark.implicits._

  test("intervalOverlapJoin matches naive cross-filter, each pair once") {
    val left = Seq((1L, 0d, 10d), (2L, 15d, 18d), (3L, 40d, 95d),
        (4L, 7d, 7d))
      .toDF("lid", "s_lo", "s_hi")
    val right = Seq((10L, 5d, 16d), (20L, 17d, 30d), (30L, 96d, 99d),
        (40L, 0d, 100d))
      .toDF("rid", "w_lo", "w_hi")
    val got = RangeJoin.intervalOverlapJoin(left, "s_lo", "s_hi",
        right, "w_lo", "w_hi", bucketWidth = 6d)
      .select("lid", "rid").as[(Long, Long)].collect().sorted
    val naive = left.crossJoin(right)
      .filter(col("s_lo") <= col("w_hi") && col("w_lo") <= col("s_hi"))
      .select("lid", "rid").as[(Long, Long)].collect().sorted
    assert(got.sameElements(naive))
    assert(got.length == got.distinct.length)
    // spot-check semantics: degenerate [7,7] hits [5,16] and [0,100]
    assert(naive.contains((4L, 10L)) && naive.contains((4L, 40L)))
    // touching endpoints count as overlap (closed intervals)
    assert(naive.contains((2L, 10L)))
  }

  test("pairRules: hand-computed support/confidence/lift, apriori prune") {
    // baskets: 1:{a,b}, 2:{a,b}, 3:{a,c}, 4:{b}, 5:{d} — d is pruned at
    // minItemSupport=2; c survives items but no pair reaches support 2
    val df = Seq((1, "a"), (1, "b"), (1, "b"), (2, "a"), (2, "b"),
        (3, "a"), (3, "c"), (4, "b"), (5, "d"))
      .toDF("basket", "item")
    val rules = Association.pairRules(df, "basket", "item",
        minItemSupport = 2, minPairSupport = 2)
      .collect().map(r => (r.getAs[String]("item_a"),
        r.getAs[String]("item_b")) -> r).toMap
    assert(rules.keySet == Set(("a", "b")))
    val ab = rules(("a", "b"))
    assert(ab.getAs[Long]("n_ab") == 2)
    assert(ab.getAs[Long]("n_a") == 3 && ab.getAs[Long]("n_b") == 3)
    assert(math.abs(ab.getAs[Double]("support") - 0.4) < 1e-12)
    assert(math.abs(ab.getAs[Double]("conf_a_b") - 2d / 3) < 1e-12)
    assert(math.abs(ab.getAs[Double]("lift") - 2d * 5 / 9) < 1e-12)
  }

  test("cusum window unrolling equals the textbook recursion") {
    val xs = Seq(1d, 5d, 2d, 9d, 0d, 0d, 7d, 8d, 3d, 1d)
    val mu = xs.sum / xs.length
    val slack = 0.5
    // textbook recursion on the driver
    val expUp = xs.scanLeft(0d)((s, x) =>
      math.max(0d, s + x - mu - slack)).tail
    val expDn = xs.scanLeft(0d)((s, x) =>
      math.max(0d, s + mu - x - slack)).tail
    val df = xs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("t", "x")
    val got = Windows.cusum(df, Seq.empty, "t", "x", lit(mu), lit(slack))
      .orderBy("t")
      .select("cusum_up", "cusum_down").as[(Double, Double)].collect()
    got.zip(expUp.zip(expDn)).foreach { case ((gu, gd), (eu, ed)) =>
      assert(math.abs(gu - eu) < 1e-9 && math.abs(gd - ed) < 1e-9)
    }
  }

  test("readability: hand-counted syllables/sentences/words") {
    val df = Seq("The cat sat. The dog ran away!").toDF("text")
    val r = df.select(
      TextOps.syllableCount(col("text")).as("sy"),
      size(TextOps.sentences(col("text"))).as("se"),
      TextOps.tokenCount(col("text")).as("w"),
      TextOps.fleschReadingEase(col("text")).as("f")).head()
    // vowel groups: e,a,a | e,o,a,a-a(away: a,ay→2 groups: a, ay... )
    // "the cat sat the dog ran away" → e,a,a,e,o,a,a,ay = 8
    assert(r.getAs[Int]("sy") == 8)
    assert(r.getAs[Int]("se") == 2)
    assert(r.getAs[Int]("w") == 7)
    val exp = 206.835 - 1.015 * 7d / 2 - 84.6 * 8d / 7
    assert(math.abs(r.getAs[Double]("f") - exp) < 1e-9)
  }

  test("histogram quantile ingest: replay-idempotent, compaction-invariant") {
    import graft.streaming.SketchIngest
    val p1 = "graft_t_hq1"
    val p2 = "graft_t_hq2"
    for (p <- Seq(p1, p2); t <- Seq("_hist_cnt", "_hist_q"))
      graft.core.Materialize.dropWithLocation(spark, p + t)
    val chunks = Seq(
      Seq(("a", 1d), ("a", 9d), ("b", 4d)),
      Seq(("a", 17d), ("b", 4d), ("b", 33d)),
      Seq(("a", 2d), ("a", 25d)))
      .map(_.toDF("g", "v"))
    // p1: straight ingest, compaction after every batch
    chunks.zipWithIndex.foreach { case (c, i) =>
      SketchIngest.applyHistBatch(c, i.toLong, "v", "g", p1, width = 8d)
      SketchIngest.compactHist(spark, p1)
    }
    // p2: at-least-once — batch 1 applied twice — and never compacted
    SketchIngest.applyHistBatch(chunks(0), 0L, "v", "g", p2, 8d)
    SketchIngest.applyHistBatch(chunks(1), 1L, "v", "g", p2, 8d)
    SketchIngest.applyHistBatch(chunks(1), 1L, "v", "g", p2, 8d)
    SketchIngest.applyHistBatch(chunks(2), 2L, "v", "g", p2, 8d)
    def traj(p: String): Seq[Row] = {
      spark.catalog.refreshTable(p + "_hist_q")
      spark.table(p + "_hist_q")
        .select("batch_id", "g", "n", "p50", "p90", "p99")
        .orderBy("batch_id", "g").collect().toSeq
    }
    assert(traj(p1) == traj(p2))
    // hand-check batch 2, group a: values {1,9,17,2,25} → buckets
    // {0,1,2,0,3}, n=5; p50: cum·100 ≥ 250 first at bucket 1 (cum 3)
    // → 8.0; p90/p99: threshold 450/495 → bucket 3 → 24.0
    val a2 = traj(p1).find(r => r.getLong(0) == 2L && r.getString(1) == "a").get
    assert(a2.getLong(2) == 5L)
    assert(a2.getDouble(3) == 8d && a2.getDouble(4) == 24d &&
      a2.getDouble(5) == 24d)
    for (p <- Seq(p1, p2); t <- Seq("_hist_cnt", "_hist_q"))
      graft.core.Materialize.dropWithLocation(spark, p + t)
  }

  test("cusum ingest: replay-idempotent, compaction-invariant, matches batch cusum") {
    import graft.streaming.SketchIngest
    val p1 = "graft_t_cs1"
    val p2 = "graft_t_cs2"
    for (p <- Seq(p1, p2); t <- Seq("_cusum_daily", "_cusum_traj"))
      graft.core.Materialize.dropWithLocation(spark, p + t)
    val d = java.sql.Date.valueOf(_: String)
    val chunks = Seq(
      Seq(("a", d("2024-01-01"), 10d), ("a", d("2024-01-02"), 12d)),
      Seq(("a", d("2024-01-02"), 14d), ("a", d("2024-01-03"), 30d)),
      Seq(("a", d("2024-01-04"), 31d)))
      .map(_.toDF("g", "day", "v"))
    chunks.zipWithIndex.foreach { case (c, i) =>
      SketchIngest.applyCusumBatch(c, i.toLong, "v", "day", "g", p1, 0d)
      SketchIngest.compactCusum(spark, p1)
    }
    // at-least-once + no compaction
    SketchIngest.applyCusumBatch(chunks(0), 0L, "v", "day", "g", p2, 0d)
    SketchIngest.applyCusumBatch(chunks(1), 1L, "v", "day", "g", p2, 0d)
    SketchIngest.applyCusumBatch(chunks(1), 1L, "v", "day", "g", p2, 0d)
    SketchIngest.applyCusumBatch(chunks(2), 2L, "v", "day", "g", p2, 0d)
    def traj(p: String): Seq[Row] = {
      spark.catalog.refreshTable(p + "_cusum_traj")
      spark.table(p + "_cusum_traj")
        .select("batch_id", "g", "n_days", "max_up", "max_dn")
        .orderBy("batch_id", "g").collect().toSeq
    }
    assert(traj(p1) == traj(p2))
    // hand-check batch 2: daily means 10, 13, 30, 31; mu = 21;
    // up trajectory: max(0, s + x - 21): 0, 0, 9, 19 → max_up = 19;
    // down: max(0, s + 21 - x): 11, 19, 10, 0 → max_dn = 19
    val b2 = traj(p1).find(_.getLong(0) == 2L).get
    assert(b2.getAs[Long]("n_days") == 4L)
    assert(math.abs(b2.getAs[Double]("max_up") - 19d) < 1e-6)
    assert(math.abs(b2.getAs[Double]("max_dn") - 19d) < 1e-6)
    for (p <- Seq(p1, p2); t <- Seq("_cusum_daily", "_cusum_traj"))
      graft.core.Materialize.dropWithLocation(spark, p + t)
  }

  test("mannWhitneyBinned equals hand-ranked exact MWU at per-value bins") {
    // g1 = {1,2,2,5}, g2 = {2,3,3}; combined average ranks: 1 → 1,
    // the three 2s → (2+3+4)/3 = 3, the two 3s → 5.5, 5 → 7.
    // R1 = 1+3+3+7 = 14, U1 = 14 − 4·5/2 = 4.
    val df = (Seq(1d, 2d, 2d, 5d).map(("g1", _)) ++
      Seq(2d, 3d, 3d).map(("g2", _))).toDF("g", "v")
    val r = graft.quality.Checks.mannWhitneyBinned(
      df, "v", col("g") === "g1", binWidth = 1d).head()
    assert(r.getAs[Long]("m") == 4L && r.getAs[Long]("n") == 3L)
    assert(math.abs(r.getAs[Double]("u1") - 4d) < 1e-12)
    // z from the tie-corrected formula: mean 6, tiesum (3³−3)+(2³−2)=30,
    // var = 12/12·(8 − 30/42) = 7.285714…, z = −2/sqrt(var)
    val expZ = (4d - 6d) / math.sqrt(12d / 12 * (8d - 30d / 42))
    assert(math.abs(r.getAs[Double]("z") - expZ) < 1e-9)
  }

  test("weighted median: hand-computed lower weighted median") {
    val df = Seq(("a", 1d, 1d), ("a", 2d, 1d), ("a", 3d, 10d),
        ("b", 5d, 3d), ("b", 7d, 1d))
      .toDF("g", "v", "wt")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val wc = w.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val got = df.withColumn("cumw", sum(col("wt")).over(wc))
      .withColumn("tw", sum(col("wt")).over(w))
      .groupBy("g")
      .agg(min(when(col("cumw") * 2 >= col("tw"), col("v"))).as("wm"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a: weights 1,1,10 of 12 — cum 1,2,12; first 2·cum ≥ 12 at v=3
    // b: weights 3,1 of 4 — cum 3,4; 2·3 ≥ 4 already at v=5
    assert(got == Map("a" -> 3d, "b" -> 5d))
  }

  test("canonicalizeUrl: case-fold, strip tracking/fragment, sort params") {
    val cases = Seq(
      "HTTP://WWW.Site.COM/A/b?utm_source=x&z=1&a=2#frag" ->
        "http://www.site.com/A/b?a=2&z=1",
      "https://site.com/p?fbclid=abc&gclid=def" -> "https://site.com/p",
      "http://Site.com/p" -> "http://site.com/p",
      "http://site.com/p?id=1&utm_campaign=c&id=1" ->
        "http://site.com/p?id=1&id=1",
      "ftp://Host/Path?b=2&a=1" -> "ftp://host/Path?a=1&b=2",
      // a '?' inside the fragment is NOT a query string
      "http://h.com/p#!?page=2" -> "http://h.com/p",
      // unparseable (schemeless/relative/mailto) pass through untouched
      "www.SiteA.com/x?b=2&a=1" -> "www.SiteA.com/x?b=2&a=1",
      "mailto:a@b.c" -> "mailto:a@b.c")
    val got = cases.map(_._1).toDF("url")
      .select(graft.ext.Urls.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("direct-call compaction keeps standing state (stale-partition drop regression)") {
    // Regression: from a session that tracks filesource partitions in
    // the catalog (any NON-foreachBatch session — the documented
    // "operator's own schedule" maintenance path), a rename-swap
    // compaction of a partitioned standing table once deleted the
    // just-swapped-in generation through stale partition metadata. The
    // standing tables are now unpartitioned and compaction swaps the
    // table's location, so no partition metadata exists to go stale;
    // the direct-call compaction must keep the standing state intact.
    import graft.streaming.SketchIngest
    val p = "graft_t_cptreg"
    for (t <- Seq("_cms_cnt", "_cms_cand", "_cms_est"))
      graft.core.Materialize.dropWithLocation(spark, p + t)
    import spark.implicits._
    SketchIngest.applyCmsBatch(Seq("x", "x", "y", "z").toDF("k"),
      0L, "k", p, d = 2, w = 64, topN = 4)
    val cat = spark.sessionState.catalog
    assert(cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(p + "_cms_cnt"))
      .partitionColumnNames.isEmpty,
      "precondition: the standing table carries no partition metadata")
    SketchIngest.compactCms(spark, p)
    spark.catalog.refreshTable(p + "_cms_cnt")
    assert(spark.table(p + "_cms_cnt").count() == 5,
      "compaction must preserve the standing counts")
    SketchIngest.applyCmsBatch(Seq("x", "w", "w", "y").toDF("k"),
      1L, "k", p, d = 2, w = 64, topN = 4)
    spark.catalog.refreshTable(p + "_cms_est")
    val estX = spark.table(p + "_cms_est")
      .filter(col("batch_id") === 1L && col("key") === "x")
      .select("est").as[Long].head()
    assert(estX == 3L, s"x seen 3 times across batches, est said $estX")
    for (t <- Seq("_cms_cnt", "_cms_cand", "_cms_est"))
      graft.core.Materialize.dropWithLocation(spark, p + t)
  }
}
