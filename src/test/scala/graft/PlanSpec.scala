package graft

import graft.queries.Registry

/**
 * Plan-shape regression tests: the physical plans that make these
 * queries scale must not silently degrade (broadcast → sort-merge,
 * top-k → full sort, lost parquet pushdown). String-level assertions on
 * the executed plan are deliberate — they catch regressions from Spark
 * upgrades and refactors alike.
 */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("j1: dimension joins broadcast (no fact-side shuffle)") {
    val p = plan("j1_left_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("p3: equality filter reaches the parquet scan") {
    assert(plan("p3_filter_eq").contains("EqualTo(l_returnflag,R)"))
  }

  test("p1: projection prunes the parquet read schema") {
    val p = plan("p1_project_rename")
    // scan must read only the 3 projected columns, not all 16
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"))
  }

  test("t1: top-k plans TakeOrderedAndProject, never a full global sort") {
    val p = plan("t1_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("j6: semi-join broadcasts the small key set") {
    val p = plan("j6_semi_join")
    assert(p.contains("LeftSemi") && p.contains("BroadcastExchange"))
  }

  test("a1: group percentiles shuffle exactly once") {
    val p = plan("a1_group_percentiles")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
  }

  test("sim_topk: probes broadcast; vectors never shuffle before scoring") {
    val p = plan("ext_sim_topk_cosine")
    assert(p.contains("BroadcastNestedLoopJoin"))
    // the only hash exchange is the tiny (probe, id, score) rank input
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1)
  }

  test("j8: bucketed co-located join plans with NO exchange on either side") {
    val p = plan("j8_bucketed_join")
    // the sort-merge join over bucketed scans must not shuffle its inputs;
    // the only allowed exchange is the post-join aggregation's
    val smjIdx = p.indexOf("SortMergeJoin")
    assert(smjIdx >= 0, "bucketed join must be a sort-merge join")
    assert(!p.substring(smjIdx).contains("Exchange hashpartitioning"),
      "no exchange below the bucketed join")
    assert(p.contains("SelectedBucketsCount"), "scan must be bucket-aware")
  }

  test("t6: aggregator top-k combines map-side (partial before the exchange)") {
    val p = plan("t6_topk_aggregated")
    val firstAgg = p.indexOf("ObjectHashAggregate")
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(firstAgg >= 0 && exchange >= 0)
    // plan prints top-down: final agg, then exchange, then PARTIAL agg —
    // the partial (map-side) aggregate must sit below the shuffle
    val partialIdx = p.indexOf("partial_topk")
    assert(partialIdx > exchange, "partial top-k must run before the shuffle")
  }

  test("j10: range join plans as an equi-join on bucket, not a nested loop") {
    val p = plan("j10_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "bucketed range join must not degenerate to a nested loop")
  }

  test("j9: as-of join is one window pass over the union (single key shuffle)") {
    val p = plan("j9_asof_join")
    assert(p.contains("Window") && p.contains("Union"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of must not plan any join operator at all")
  }

  test("w11: both sessionization windows share ONE shuffle and sort") {
    val p = plan("w11_sessionize_batch")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "gap-flag and running-sum windows must reuse the user_id partitioning")
  }

  test("partitioned sink: reads with a partition filter prune at planning") {
    import org.apache.spark.sql.functions._
    val out = tempDir("graft_prune").toString + "/t"
    graft.core.Sinks.overwrite(
      graft.queries.Registry.queries("s3_table_source")(spark, sfDir)
        .sparkSession.read.parquet(s"$sfDir/orders.parquet"),
      out, partitionCols = Seq("o_orderstatus"))
    val df = spark.read.parquet(out).filter(col("o_orderstatus") === "F")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"partition filter must prune directories, not scan rows: ${p.take(400)}")
    assert(!p.contains("PushedFilters: [IsNotNull(o_orderstatus)"),
      "the status filter must be a partition filter, not a data filter")
  }

  test("curation chain never plans an all-pairs product") {
    // exact dedup + LSH near-dup + verify joins must all be equi-joins;
    // a CartesianProduct/BroadcastNestedLoopJoin anywhere is the O(n²)
    // scale-killer the banded design exists to avoid
    val p = plan("ext_curation_full")
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("AQE coalesces post-shuffle partitions after execution") {
    // the runtime re-plan the 100 TB path leans on: partition count is
    // decided from actual map output sizes, not the static shuffle config
    val df = Registry.queries("a2_group_mean")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"AQE must finalize: ${p.take(200)}")
    assert(p.contains("AQEShuffleRead coalesced"),
      s"tiny shuffle must coalesce: ${p.take(600)}")
  }

  test("j12: shuffle_hash hint plans ShuffledHashJoin, not SortMergeJoin") {
    val p = plan("j12_shuffle_hash_join")
    assert(p.contains("ShuffledHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ext_weighted_sample: top-k sample plans TakeOrderedAndProject") {
    val p = plan("ext_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("fused top-k plans the custom operator: no scored shuffle, no window") {
    val p = plan("ext_sim_topk_fused")
    // SparkPlan nodeName strips the Exec suffix in plan strings
    assert(p.contains("CosineTopK"), "custom strategy must plan the fused node")
    // The r14 scan-parallelism repair inserts ONE RoundRobin exchange of
    // the RAW VECTOR INPUT below the operator (Parallel.widen — the
    // single-file fixture scan otherwise runs the whole scoring kernel
    // in one task). The pin protects what it always protected: nothing
    // ROW-COUNT-SHAPED (scored triples) is ever hash/range-shuffled and
    // no rank window runs — the operator's bounded-buffer merge is an
    // RDD-level boundary moving only partitions × probes × k partials.
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning") && !p.contains("Window"),
      "fused top-k must not shuffle scored rows or run a rank window")
  }

  test("ann-jl two-stage top-k runs the bounded aggregator, never a rank window") {
    val p = plan("ext_sim_ann_jl")
    // both the coarse candidate pass and the exact re-rank must select
    // per-probe top rows via TopKAggregator's partial/final ObjectHashAggregate
    // split — a Window here would shuffle every scored corpus row to its
    // probe's single reducer
    assert(!p.contains("Window"),
      "annTopKJl must not rank-window scored corpus rows")
    assert(p.contains("ObjectHashAggregate"),
      "annTopKJl top-k must run through the bounded-buffer aggregator")
  }

  test("bm25 scoring tail runs the bounded aggregator, not a query-keyed rank window") {
    val p = plan("ext_bm25_topk")
    // the only Window allowed is the per-doc dl sum (partitionBy doc_id,
    // co-partitioned with the tf aggregation); the per-QUERY top-k must
    // be TopKAggregator's ObjectHashAggregate so a hot term never funnels
    // the matched corpus through one reducer
    assert(p.contains("ObjectHashAggregate"),
      "bm25 top-k must run through the bounded-buffer aggregator")
    assert(!p.contains("windowspecdefinition(query_id"),
      "bm25 must not rank-window scored rows by query_id")
  }

  test("fuzzy term match plans a deletion-variant equi-join, never a product") {
    val p = plan("ext_fuzzy_terms")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "SymSpell candidates must come from the variant equi-join, not vocab×queries")
  }

  test("maxsim top-k runs the bounded aggregator, no doc-keyed rank window") {
    val p = plan("ext_maxsim_topk")
    assert(p.contains("ObjectHashAggregate"),
      "MaxSim top-k must run through the bounded-buffer aggregator")
    assert(!p.contains("windowspecdefinition(query_id"),
      "MaxSim must not rank-window scored rows by query_id")
  }

  test("simhash pairs plan is a banded equi-join, never an all-pairs product") {
    val p = plan("ext_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "banded simhash must not degenerate to an all-pairs comparison")
  }

  test("pipeline top-10 ends in TakeOrderedAndProject with broadcast dim join") {
    val p = plan("pl_tti_monthly_top10")
    assert(p.contains("TakeOrderedAndProject") && p.contains("BroadcastHashJoin"))
  }

  test("tpch q7/q9: dimension sides broadcast; no cartesian anywhere") {
    for (q <- Seq("tpch_q7", "tpch_q9")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q must broadcast its dims")
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian")
    }
  }

  test("tpch q21: double self-join plans semi+anti hash joins, no cartesian") {
    val p = plan("tpch_q21")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("j13: bloom prefilter gates the fact scan and matches the plain join") {
    import org.apache.spark.sql.functions._
    val fact = graft.core.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_quantity")
    val dim = graft.core.Tables.supplier(spark, sfDir)
      .filter(col("s_nationkey") === 3).select("s_suppkey", "s_name")
    val pre = graft.ops.Joins.bloomPrefilteredInner(
      fact, dim, "l_suppkey", "s_suppkey", expectedDimKeys = 1000L)
    val plain = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
    assert(pre.count() == plain.count(), "bloom prefilter must not drop matches")
    // the predicate must sit on the fact side BEFORE its exchange: the
    // filtered row count is far below the full fact scan
    val dimKeys = dim.collect().map(_.getLong(0)).toSet
    val surviving = pre.select("l_suppkey").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(surviving == dimKeys, "exact join must cull every false positive")
  }

  test("j15: salted join stays an equi-join on (key, salt) — no cartesian") {
    val p = plan("j15_salted_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("__salt"), "join keys must include the salt")
  }

  test("j14: lateral top-n never plans a cartesian product") {
    val p = plan("j14_lateral_topn")
    assert(!p.contains("CartesianProduct"))
  }

  test("t7: global index runs on many partitions, unlike its window twin") {
    import org.apache.spark.sql.functions._
    val base = graft.core.Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 100000)
      .select(col("o_orderkey"), col("o_totalprice"))
    val ours = graft.ops.RowIndex.globalIndex(base, Seq("o_orderkey"))
    assert(ours.rdd.getNumPartitions > 1,
      "the distributed index must not serialize through one partition")
    // the declarative twin plans the SinglePartition exchange this avoids
    val twin = base.withColumn("idx", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy("o_orderkey")) - 1)
    assert(twin.queryExecution.executedPlan.toString.contains("SinglePartition"))
    val a = ours.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val b = twin.collect().map(r => (r.getLong(0), r.getInt(2).toLong)).toSet
    assert(a == b, "distributed index must equal the window numbering")
  }

  test("dq_gini: rank is distributed — no window over the per-user frame") {
    // the per-user count frame is data-proportional (10⁸–10⁹ rows at
    // 100 TB); its rank must come from RowIndex.globalIndex, never a
    // row_number() window whose empty partition spec funnels every row
    // through one reducer. The only SinglePartition allowed is the
    // final one-row global aggregate.
    val p = plan("dq_gini_concentration")
    assert(!p.contains("Window"),
      s"gini rank must be RowIndex.globalIndex, not a window:\n$p")
  }

  test("quantile sketch: global bottom-k plans TakeOrderedAndProject; grouped form never funnels one reducer") {
    import org.apache.spark.sql.functions._
    val df = graft.core.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    // global form: the k-pair prefix comes from orderBy().limit(k) —
    // TakeOrderedAndProject, never a full sort; the rank window after
    // it sees ≤ k rows (the bounded class the audit allow-lists)
    val p = graft.functions.QuantileSketch
      .bottomKSample(df, "o_orderkey", "o_totalprice", 32)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"global bottom-k must not globally sort the table:\n$p")
    // grouped form: the rank window partitions by group — no
    // single-partition exchange anywhere
    val g = graft.functions.QuantileSketch
      .bottomKSample(df.withColumn("g", col("o_orderkey") % 5),
        "o_orderkey", "o_totalprice", 32, Seq("g"))
      .queryExecution.executedPlan.toString
    assert(!g.contains("Exchange SinglePartition"),
      s"grouped sketch must never funnel one reducer:\n$g")
  }

  test("incremental dedup: base enters as an anti-join build side, one agg shuffle") {
    val p = plan("ext_dedup_incremental")
    // the accepted corpus must gate the batch via LeftAnti — never a
    // full join materializing matched rows, never a cartesian
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("gopher gates: one per-row word-stats pass, no exchange, no window, no join") {
    val p = plan("ext_gopher_rules")
    assert(p.contains("graft_word_stats"))
    assert(!p.contains("Exchange") && !p.contains("Window") && !p.contains("Join"),
      s"per-doc flags must come from the per-row kernel alone:\n$p")
  }

  test("nearDupPairs: one persisted MinHash frame, verified by the sorted-merge kernel") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val qe = graft.ext.Dedup.nearDupPairs(docs, "doc_id", "text",
      threshold = 0.5, numHashes = 64, bands = 32).queryExecution
    val caches = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder
    }
    val distinct = caches.foldLeft(List.empty[AnyRef])((acc, b) =>
      if (acc.exists(_ eq b)) acc else b :: acc)
    assert(caches.nonEmpty && distinct.size == 1,
      s"one (id, shingles, band keys) frame feeds banding and verification, got ${distinct.size}")
    val p = qe.executedPlan.toString
    assert(p.contains("graft_sorted_jaccard"))
    assert(!p.contains("array_intersect") && !p.contains("array_union"), p)
    assert("graft_sorted_jaccard\\(".r.findAllIn(p).size == 1,
      s"the Jaccard of a pair is evaluated once:\n$p")
  }

  test("kmeans assignment is scan-only: no exchange, no window, no join") {
    val vecs = graft.core.Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val cents = graft.ext.Similarity.kmeansFit(vecs, "vec_id", "embedding",
      k = 4, iters = 1).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    val p = graft.ext.Similarity.assignNearestScan(vecs, "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Window") && !p.contains("Join"),
      "centroid argmax must ride the projection — the vector table never moves")
  }

  test("incremental near-dup: banded equi-joins and anti-joins only, no cartesian") {
    val p = plan("ext_dedup_incremental_near")
    assert(p.contains("LeftAnti"), "survivors leave via anti-joins")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "batch x base candidates must come from the (band, bandHash) equi-join")
  }

  test("persisted incremental near-dup: query side joins the saved index tables") {
    val p = plan("ext_dedup_incremental_persisted")
    assert(p.contains("graft_neardup_bands") && p.contains("graft_neardup_shingles"),
      "candidates and verification must read the MATERIALIZED index tables")
    assert(p.contains("LeftAnti"), "survivors leave via anti-joins")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "batch x base candidates must come from the (band, bandHash) equi-join")
    // the behavioral half of this pin — output identical with the base
    // text DELETED — lives in DedupSpec
  }

  test("semdedup: candidate pairs come from a cluster equi-join, no cartesian") {
    val p = plan("ext_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "within-cluster pairing must be an equi-join on the cluster id")
  }

  test("PQ encode is scan-only: no exchange, no window, no join") {
    val base = graft.core.Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        graft.ext.Similarity.asDouble(
          org.apache.spark.sql.functions.col("embedding")).as("e"))
    val books = graft.ext.Similarity.pqTrain(base, "vec_id", "e",
      dim = 64, m = 4, k = 8, iters = 1)
    val p = graft.ext.Similarity.pqEncode(base, "e", books)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Window") && !p.contains("Join"),
      "per-subspace code argmax must ride the projection against codebook literals")
  }

  test("IVF-PQ: cell gate is a broadcast equi-join over codes, no shuffle of floats") {
    val p = plan("ext_sim_ivf_pq")
    assert(!p.contains("CartesianProduct"),
      "candidates must come from the probed-cell equi-join, never all-pairs")
    assert(p.contains("BroadcastHashJoin"),
      "the nprobe cell list broadcasts against the encoded corpus")
    assert(!p.contains("SortMergeJoin"),
      "nothing in the search path is big enough to justify a sort-merge")
  }

  test("dsir: the bucket model broadcasts and the corpus is never sort-merge joined") {
    val p = plan("ext_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      "token->model scoring must be a broadcast join (the model is kilobytes)")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "nothing in DSIR scoring is big enough to shuffle-join")
    assert(p.contains("InMemoryTableScan"),
      "bucket counts must persist — totals and model share one model-build scan")
    val sel = plan("ext_dsir_select")
    assert(sel.contains("TakeOrderedAndProject"),
      "selection is a bounded top-k, never a global sort")
  }

  test("dedup ingest: the accepted-fingerprint side of the anti-join never shuffles") {
    import spark.implicits._
    val table = "graft_plan_ingest"
    graft.core.Materialize.dropWithLocation(spark, table)
    val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevBcast = spark.conf.get(bcastKey)
    try {
      graft.streaming.CorpusIngest.applyBatch(
        Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
        0L, "doc_id", "text", table)
      // at fixture scale the accepted table would broadcast; the shape
      // under pin is the 100 TB one where it can't — force the non-
      // broadcast plan and require the bucketed scan to carry the join
      spark.conf.set(bcastKey, "-1")
      val p = graft.streaming.CorpusIngest.batchSurvivors(
          Seq((3L, "alpha"), (4L, "gamma")).toDF("doc_id", "text"),
          "doc_id", "text", table)
        .queryExecution.executedPlan.toString
      assert(p.contains("LeftAnti"), "the gate must stay an anti-join")
      assert(p.contains("Bucketed: true"),
        "the accepted table must be read as a bucketed scan")
      // per-trigger shuffle must be O(batch): the batch side exchanges
      // for its dedup groupBy and to align to the bucket count, but the
      // standing corpus reads its bucketed files in place — an Exchange
      // above the table scan would re-shuffle the whole accepted corpus
      // every trigger. In the printed tree the left (batch) subtree's
      // lines carry the ':' continuation prefix; the lines between the
      // last of those and the table scan are exactly the scan's
      // ancestors on the join's right spine.
      val lines = p.linesIterator.toVector
      val scanLine = lines.indexWhere(l =>
        l.contains("FileScan") && l.contains(table))
      assert(scanLine >= 0, "plan must scan the accepted table")
      val lastLeft = lines.lastIndexWhere(_.trim.startsWith(":"), scanLine)
      val rightSpine = lines.slice(math.max(lastLeft + 1, 0), scanLine)
      assert(rightSpine.forall(!_.contains("Exchange")),
        s"no exchange above the bucketed accepted-table scan, got:\n$p")
    } finally {
      spark.conf.set(bcastKey, prevBcast)
      graft.core.Materialize.dropWithLocation(spark, table)
    }
  }

  test("keep-best selection: per-component aggregate + equi-join, no window") {
    val p = plan("ext_dedup_keep_best")
    assert(!p.contains("Window"),
      "the representative must come from a hash aggregate, not a per-cluster sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("percentile gate: one-row-per-group thresholds broadcast back") {
    val p = plan("ext_quality_pct_gate")
    assert(p.contains("BroadcastHashJoin"),
      "the per-source threshold frame must broadcast, never shuffle the corpus")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
  }

  test("cross-doc dup n-grams: fingerprint aggs + equi-join, nothing pairwise") {
    val p = plan("ext_cross_dup_ngrams")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"gram counting must never pair documents, got:\n$p")
    assert(p.contains("HashAggregate"),
      "gram df-counts and per-doc fractions are hash aggregations")
  }

  test("semantic decontamination: bench + contaminated ids broadcast, corpus never sort-merges") {
    val p = plan("ext_decontaminate_semantic")
    assert(p.contains("BroadcastHashJoin"),
      "bench buckets and the contaminated-id set must ride broadcast joins")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the corpus side must never shuffle for a join, got:\n$p")
  }

  test("temperature mix: rate table broadcasts back, corpus filter is scan-side") {
    val p = plan("ext_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      "the sources-sized rate table must broadcast, never shuffle the corpus")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("mmr rerank: one probe-keyed selection exchange on top of candidate gen") {
    val p = plan("ext_mmr_rerank")
    // candidate gen: probe broadcast + rank window (1 hash exchange);
    // selection: the single groupByKey exchange — nothing else moves
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"MMR must add exactly one probe-keyed exchange, got:\n$p")
  }

  test("contrastive pairs: one doc-keyed window exchange, no join anywhere") {
    val p = plan("ext_contrastive_pairs")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"adjacent-chunk pairing is one lead window, got:\n$p")
    assert(!p.contains("Join"), "pairing must not plan a self-join")
  }

  test("count-min estimate is scan-only: sketch rides as a literal") {
    import org.apache.spark.sql.functions._
    val sketch = new Array[Long](4 * 64) // zeros suffice for plan shape
    val p = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), graft.functions.CountMinSketch
        .estimateCol(sketch, 4, 64, col("source")).as("est"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Window"),
      s"frequency scoring must not move data:\n$p")
  }

  test("calibration curve: one corpus agg, window only over the bins frame") {
    import org.apache.spark.sql.functions._
    val scored = graft.core.Tables.documents(spark, sfDir)
      .select((col("doc_id") % 9 - 4).as("score"),
        when(col("doc_id") % 2 === 0, 1L).otherwise(-1L).as("y"))
    val p = graft.ext.Classifier.calibrationCurve(scored, "score", "y")
      .queryExecution.executedPlan.toString
    // two exchanges total: the bin hash agg, then the single-partition
    // ece window over <= nBins rows; never a join or second corpus pass
    assert("Exchange".r.findAllIn(p).size <= 2, s"expected <=2 exchanges:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("triangle counting: oriented hash joins + hash aggs, no cartesian, no window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = (1 to 200)
      .map(i => (i.toLong, ((i * 7) % 200 + 1).toLong)).toDF("src_id", "dst_id")
    val p = graft.ext.Graphs.triangleStats(edges)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"wedge generation must be an equi-join:\n$p")
    assert(!p.contains("Window"), s"no rank window anywhere:\n$p")
    graft.core.CacheRegistry.releaseAll()
  }

  test("prefix Jaccard join: rank window partitions per doc, no cartesian") {
    val p = plan("ext_jaccard_prefix_join")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the prefix-token equi-join:\n$p")
    // the only window is the per-doc rarest-first rank — partitioned by
    // doc id, never a global single-reducer window
    assert(!p.contains("Exchange SinglePartition"),
      s"no stage may funnel one reducer:\n$p")
    graft.core.CacheRegistry.releaseAll()
  }

  test("hll registers: one map-side-combined hash agg, no join") {
    import org.apache.spark.sql.functions._
    val sh = graft.core.Tables.documents(spark, sfDir).select(col("source"),
      explode(graft.ext.TextOps.stringShingles(col("text"), 3)).as("term"))
    val p = graft.functions.HyperLogLog.registers(sh, "term", Seq("source"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"register build is exactly one shuffle:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
    assert(p.contains("partial_max") || p.contains("max"),
      "register max must partial-aggregate map-side")
  }

  test("pca gram cells: generated scan-side, one hash-agg shuffle, no self-join") {
    import org.apache.spark.sql.functions._
    // reproduce the operator's cells stage on the embeddings fixture
    val vs = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("__v"))
      .filter(size(col("__v")) === 64)
    val muLit = typedLit((1 to 64).map(_ => 0.0))
    val cent = vs.select(transform(sequence(lit(1), lit(64)), i =>
      round((element_at(col("__v"), i) - element_at(muLit, i)) * lit(1e6)
        + lit(1e-9)).cast("long")).as("__c"))
    val p = graft.ext.Similarity.gramCells(cent, "__c", 64)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"gram build is exactly one shuffle of partial-agged cells:\n$p")
    assert(!p.contains("Join"), s"row-pairs must never form:\n$p")
  }

  test("url canonicalization + readability are shuffle-free scan-side projections") {
    import org.apache.spark.sql.functions._
    val d = graft.core.Tables.documents(spark, sfDir)
    for (c <- Seq(
        graft.ext.Urls.canonicalizeUrl(concat(lit("http://h.com/p?b=2&a=1&x="),
          col("doc_id").cast("string"))).as("u"),
        graft.ext.TextOps.fleschReadingEase(col("text")).as("f"))) {
      val p = d.select(col("doc_id"), c).queryExecution.executedPlan.toString
      // one Project directly over the scan: no Exchange, no extra
      // stage. (The higher-order filter/sort lambdas keep the Project
      // itself OUT of whole-stage codegen — interpreted per row over
      // ≤ a handful of array elements — but the pipeline is still a
      // single shuffle-free pass over the scan.)
      assert(!p.contains("Exchange"), s"pure projection must not shuffle:\n$p")
      assert(p.contains("FileScan parquet") && p.contains("Project"),
        s"projection must sit directly on the scan:\n$p")
    }
  }

  test("upsert fold: one exchange against the table, no join and no sort") {
    import org.apache.spark.sql.execution.{SortExec, joins}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.streaming.EventStream.foldUserStats
    val table = "graft_test_fold_plan"
    graft.core.Materialize.dropWithLocation(spark, table)
    try {
      val events = graft.core.Tables.events(spark, sfDir)
      graft.core.Materialize.replaceTable(spark, table, foldUserStats(events, None))
      val p = foldUserStats(events, Some(spark.table(table))).queryExecution.executedPlan
      val helper = new AdaptiveSparkPlanHelper {}
      assert(helper.collect(p) { case e: ShuffleExchangeLike => e }.size == 1,
        s"the fold must shuffle exactly once:\n$p")
      assert(helper.collect(p) { case j: joins.SortMergeJoinExec => j }.isEmpty,
        s"the fold must not join the table:\n$p")
      assert(helper.collect(p) { case s: SortExec => s }.isEmpty, s"no sort:\n$p")
    } finally graft.core.Materialize.dropWithLocation(spark, table)
  }

  test("j16: interval-overlap join plans as an equi-join on tile, not a nested loop") {
    val p = plan("j16_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"tiled overlap join must never plan a product:\n$p")
  }

  test("a28: robust stats broadcast the percentile bounds back onto the facts") {
    val p = plan("a28_trimmed_robust")
    assert(p.contains("BroadcastHashJoin"), s"bounds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no fact-side sort for bounds:\n$p")
  }
}
