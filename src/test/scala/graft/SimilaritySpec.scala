package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 0f), Array(-1f, 0f), -1.0))
      .toDF("a", "b", "expected")
      .withColumn("cos",
        Similarity.cosine(Similarity.asDouble(col("a")), Similarity.asDouble(col("b"))))
    df.collect().foreach(r => assert(math.abs(r.getDouble(3) - r.getDouble(2)) < 1e-12))
  }

  test("cosine of zero vector is NULL, not a crash or 0/0") {
    val df = Seq((Array(0f, 0f), Array(1f, 0f))).toDF("a", "b")
      .withColumn("cos",
        Similarity.cosine(Similarity.asDouble(col("a")), Similarity.asDouble(col("b"))))
    assert(df.collect().head.isNullAt(2))
  }

  test("tiny parallel twin (1e-20 fill) scores exactly 1.0 — no norm underflow") {
    // 64 equal addends: every partial sum is an exact small-integer
    // multiple of the element product, sqrt of the exact square is
    // exact, so the ratio is 1.0 bit-for-bit (the property the
    // ext_adv_sim_topk oracle row relies on cross-engine).
    val df = Seq((Array.fill(64)(1e-20f), Array.fill(64)(1.0f))).toDF("a", "b")
      .withColumn("cos",
        Similarity.cosine(Similarity.asDouble(col("a")), Similarity.asDouble(col("b"))))
    assert(df.collect().head.getDouble(2) === 1.0)
  }

  test("jlProject: seed-determined matrix, loose pairwise-distance preservation") {
    // matrix is a pure function of (dim, outDim, seed)
    val m1 = Similarity.jlSignMatrix(8, 4, "s")
    assert(m1 == Similarity.jlSignMatrix(8, 4, "s"))
    assert(m1 != Similarity.jlSignMatrix(8, 4, "other-seed"))
    assert(m1.flatten.forall(v => math.abs(math.abs(v) - 0.5) < 1e-15)) // 1/sqrt(4)
    // JL property on the fixture: projected pairwise distances track the
    // originals within the O(1/sqrt(outDim)) distortion band
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).limit(60)
    val orig = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val proj = Similarity.jlProject(vecs, "vec_id", "embedding",
        dim = 64, outDim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def dist(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ids = orig.keys.toSeq.sorted
    val ratios = ids.zip(ids.tail).map { case (a, b) =>
      dist(proj(a), proj(b)) / dist(orig(a), orig(b))
    }
    val sortedR = ratios.sorted
    val median = sortedR(sortedR.length / 2)
    assert(median > 0.7 && median < 1.4,
      s"median distance ratio $median outside the k=16 distortion band")
    assert(ratios.forall(r => r > 0.2 && r < 2.5),
      "an individual pair blew far past JL distortion")
  }

  test("annTopKJl: self-hit first; recall vs exact top-5 measured and pinned") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val probes = vecs.filter(col("vec_id").isin(100L, 200L, 300L, 400L))
      .select(((col("vec_id") / lit(100)).cast("long") - lit(1)).as("query_id"),
        col("embedding").as("probe_vec"))
    val ann = Similarity.annTopKJl(vecs, "vec_id", "embedding",
        probes, "query_id", "probe_vec",
        dim = 64, outDim = 16, candidates = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the probe's own vector survives projection at cosine 1 -> rank 1
    val tops = ann.groupBy(_._1).map { case (q, rows) =>
      q -> rows.minBy(r => (-r._3, r._2))._2 }
    assert(tops == Map(0L -> 100L, 1L -> 200L, 2L -> 300L, 3L -> 400L))
    // recall-vs-candidates is the operator's knob (like nprobe): it must
    // rise monotonically-ish and approach 1 as candidates -> corpus
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        probes, "query_id", "probe_vec", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(c: Int, od: Int): Double = {
      val got = Similarity.annTopKJl(vecs, "vec_id", "embedding",
          probes, "query_id", "probe_vec",
          dim = 64, outDim = od, candidates = c, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val r16c20 = recallAt(20, 16); val r16c60 = recallAt(60, 16)
    val r32c20 = recallAt(20, 32); val r32c60 = recallAt(60, 32)
    info(s"JL-ANN recall: outDim=16 c=20 -> $r16c20, c=60 -> $r16c60; " +
      s"outDim=32 c=20 -> $r32c20, c=60 -> $r32c60")
    assert(r16c60 >= r16c20, "more candidates must never lose recall")
    assert(r32c60 >= 0.85, s"recall $r32c60 at outDim=32 c=60 below the pinned floor")
  }

  test("brute-force top-k: every probe finds itself first with score 1") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val probes = vecs.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      probes, "probe_id", "probe_vec", k = 3)
    val first = top.filter(col("probe_id") === col("vec_id"))
      .select("probe_id", "score").collect()
    assert(first.length == probes.count())
    assert(first.forall(_.getDouble(1) >= 0.999999))
  }

  test("ANN bucket candidates share the probe's bucket; scores bounded") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val probes = vecs.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val ann = Similarity.annTopK(vecs, "vec_id", "embedding",
      probes, "probe_id", "probe_vec", k = 3, bits = 4)
    val buckets = vecs.withColumn("b", Similarity.bucketId(col("embedding"), 4))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ann.select("probe_id", "vec_id", "score").collect().foreach { r =>
      assert(buckets(r.getLong(0)) == buckets(r.getLong(1)),
        "ANN neighbor must come from the probe's bucket")
      assert(r.getDouble(2) >= -1.0 - 1e-6 && r.getDouble(2) <= 1.0 + 1e-6)
    }
  }

  test("native codegen cosine is bit-identical to the portable HOF form") {
    graft.functions.GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, sfDir).limit(100)
      .select(col("vec_id"), col("embedding"))
    val probe = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_vec"))
    val both = vecs.crossJoin(probe).select(
      Similarity.cosine(Similarity.asDouble(col("embedding")),
        Similarity.asDouble(col("probe_vec"))).as("hof"),
      Similarity.cosineNative(col("embedding"), col("probe_vec")).as("native"))
    assert(both.collect().forall(r => r.getDouble(0) == r.getDouble(1)),
      "sequential-sum double results must match exactly")
  }

  test("native cosine handles zero vectors (NULL) and null elements (as 0)") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (Array[java.lang.Float](0f, 0f), Array[java.lang.Float](1f, 0f)),
      (Array[java.lang.Float](1f, null), Array[java.lang.Float](1f, 1f)))
      .toDF("a", "b")
      .withColumn("cos", Similarity.cosineNative(col("a"), col("b")))
    val rows = df.collect()
    assert(rows(0).isNullAt(2), "zero norm -> NULL")
    assert(math.abs(rows(1).getDouble(2) - 1.0 / math.sqrt(2)) < 1e-12,
      "null element treated as 0")
  }

  test("ANN recall vs brute force across bits; hamming-1 multiprobe recovers it") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val probes = vecs.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val truth = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 10)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (for (bits <- Seq(2, 4, 6, 8); mp <- Seq(0, 1)) yield {
      val ann = Similarity.annTopK(vecs, "vec_id", "embedding",
          probes, "probe_id", "probe_vec", k = 10, bits = bits,
          multiprobeHamming = mp)
        .select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rec = (ann intersect truth).size.toDouble / truth.size
      info(f"bits=$bits multiprobe=$mp recall=$rec%.3f")
      ((bits, mp), rec)
    }).toMap
    // multiprobe can only add candidate buckets — recall must not drop
    for (bits <- Seq(2, 4, 6, 8))
      assert(recall((bits, 1)) >= recall((bits, 0)),
        s"multiprobe must not lose recall at bits=$bits")
    // more bits = smaller buckets = lower single-probe recall (weak monotone)
    assert(recall((8, 0)) <= recall((2, 0)) + 1e-9)

    // multi-table recall: tables is the knob that raises recall WITHOUT
    // growing bucket size; the documented production setting must clear 0.9
    val mt = (for (tables <- Seq(2, 4, 8)) yield {
      val ann = Similarity.annTopKMultiTable(vecs, "vec_id", "embedding",
          probes, "probe_id", "probe_vec", k = 10, bits = 4, tables = tables,
          multiprobeHamming = 1)
        .select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rec = (ann intersect truth).size.toDouble / truth.size
      info(f"bits=4 tables=$tables multiprobe=1 recall=$rec%.3f")
      tables -> rec
    }).toMap
    assert(mt(2) <= mt(4) + 1e-9 && mt(4) <= mt(8) + 1e-9,
      "recall must not drop as tables are added")
    assert(mt(8) >= 0.9,
      "documented setting (bits=4, 8 tables, multiprobe) must reach 0.9 recall")
  }

  test("IVF: nprobe=nlist degrades to brute force; nprobe=2 keeps self-hit") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val probes = vecs.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val truth = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 3)
      .select("probe_id", "vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // full probing scans every cell — must equal the exact answer
    val full = Similarity.ivfTopK(vecs, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 3, nlist = 8, nprobe = 8)
      .select("probe_id", "vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full == truth, "nprobe = nlist must reproduce brute force exactly")
    // narrow probing: every probe's own vector lives in the probe's best
    // cell by construction, so the self-hit (score 1) must survive
    val narrow = Similarity.ivfTopK(vecs, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 3, nlist = 8, nprobe = 2)
    val self = narrow.filter(col("probe_id") === col("vec_id")).collect()
    assert(self.length == probes.count(), "self-hit must survive IVF pruning")
    val rec = (narrow.select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      .map((p: (Long, Long)) => p)
      intersect truth.map(t => (t._1, t._2))).size.toDouble / truth.size
    info(f"ivf nlist=8 nprobe=2 recall=$rec%.3f")
    assert(rec >= 0.5, "nprobe=2/8 should keep at least half the true top-k")
  }

  test("centroid assignment covers every vector exactly once") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val cents = Similarity.centroids(vecs, "label", "embedding")
    assert(cents.count() == vecs.select("label").distinct().count())
    val assigned = Similarity.assignNearestCentroid(vecs, "vec_id", "embedding", cents)
    assert(assigned.count() == vecs.count())
    assert(assigned.select("vec_id").distinct().count() == vecs.count())
  }

  test("int8 quantization: q bounded, scale hit, reconstruction error < scale/2") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val q = Similarity.int8Quantize(vecs, "vec_id", "embedding")
    val n = vecs.count()
    assert(q.count() == n * 64, "one row per (vector, dim)")
    assert(q.filter(abs(col("q")) > 127).count() == 0)
    // every non-zero vector has at least one |q| == 127 (the max element)
    assert(q.groupBy("vec_id").agg(max(abs(col("q"))).as("m"))
      .filter(col("m") =!= 127).count() == 0)
    // dequantized values stay within half a quantization step of the input
    val scales = vecs.select(col("vec_id"),
      (array_max(transform(col("embedding"), x => abs(x.cast("double")))) / 127.0)
        .as("scale"),
      posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("x").cast("double").as("x"), col("scale"))
    val joined = q.join(scales, Seq("vec_id", "dim"))
      .withColumn("err", abs(col("q") * col("scale") - col("x")))
    assert(joined.filter(col("err") > col("scale") * 0.5000001).count() == 0)
  }

  test("mean pooling: per-(label, dim) mean within fixed-point tolerance of true mean") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("label"), col("embedding"))
    val pooled = Similarity.meanPoolByKey(vecs, "label", "embedding")
    val nLabels = vecs.select("label").distinct().count()
    assert(pooled.count() == nLabels * 64)
    val direct = vecs
      .select(col("label").cast("long").as("pool_key"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("pool_key"), col("dim").cast("long").as("dim"))
      .agg(avg(col("x").cast("double")).as("true_mean"))
    val drift = pooled.join(direct, Seq("pool_key", "dim"))
      .withColumn("d", abs(col("mean_val") - col("true_mean")))
    // fixed-point quantization (5e-7) + final 6-digit rounding (5e-7)
    assert(drift.filter(col("d") > 1.1e-6).count() == 0)
  }

  test("approximate kNN graph: recall >= 0.9 at documented setting, no broadcast needed") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val truth = Similarity.knnGraph(vecs, "vec_id", "embedding", k = 3)
      .select("src_id", "dst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.knnGraphApprox(vecs, "vec_id", "embedding", k = 3,
      bits = 4, tables = 8, multiprobeHamming = 1)
    val edges = approx.select("src_id", "dst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = (edges intersect truth).size.toDouble / truth.size
    info(f"knnGraphApprox bits=4 tables=8 multiprobe=1 recall=$rec%.3f")
    assert(rec >= 0.9,
      "documented setting (bits=4, 8 tables, multiprobe) must reach 0.9 recall")
    // every emitted edge must be a real scored pair: no self-edges,
    // at most k per source, and scores must match the exact graph's
    // scoring wherever the edge is shared
    assert(approx.filter(col("src_id") === col("dst_id")).count() == 0)
    val perSrc = approx.groupBy("src_id").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(perSrc <= 3)
    // candidate generation must be an equi-join, never a cartesian
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "LSH self-join must plan as an equi-join")
  }

  test("kmeans: assignment is the true argmax and Lloyd updates improve fit") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val k = 4
    val fitted = Similarity.kmeansFit(vecs, "vec_id", "embedding", k, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    assert(fitted.length == k)
    assert(fitted.map(_._1).sorted == (0L until k).toSeq)
    val seeds = Similarity.kmeansFit(vecs, "vec_id", "embedding", k, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    def meanScore(cents: Seq[(Long, Seq[Double])]): Double =
      Similarity.assignNearestScan(vecs, "embedding", cents)
        .agg(avg(col("assign_score"))).head().getDouble(0)
    assert(meanScore(fitted) > meanScore(seeds),
      "two Lloyd updates must improve mean assignment cosine over the raw seeds")
    // assignment really is the per-vector argmax with the documented
    // (score desc, lowest label) tie-break
    val assigned = Similarity.assignNearestScan(vecs, "embedding", fitted)
      .select(col("vec_id"), col("embedding"), col("assigned_label"),
        col("assign_score")).collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n == 0) -2.0 else math.round(d / n * 1e6 + 1e-3) / 1e6
    }
    assigned.foreach { r =>
      val e = r.getSeq[Float](1).map(_.toDouble)
      val best = fitted.map { case (l, c) => (cos(e, c), -l) }.max
      assert(-best._2 == r.getLong(2), s"vec ${r.getLong(0)} not argmax-assigned")
    }
  }

  test("kmeans: farthest-point init beats lowest-id at equal k/iters, " +
      "deterministically") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val k = 8
    def meanScore(cents: Seq[(Long, Seq[Double])]): Double =
      Similarity.assignNearestScan(vecs, "embedding", cents)
        .agg(avg(col("assign_score"))).head().getDouble(0)
    def fit(init: Similarity.KmeansInit) =
      Similarity.kmeansFit(vecs, "vec_id", "embedding", k, iters = 2, init)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    val lowest = fit(Similarity.KmeansInit.LowestId)
    val spread = fit(Similarity.KmeansInit.FarthestPoint(sampleSize = 256))
    assert(spread.length == k && spread.map(_._1).sorted == (0L until k).toSeq)
    assert(meanScore(spread) > meanScore(lowest),
      "spread seeds must strictly improve mean assignment cosine on the fixture")
    // bit-reproducible: a second fit returns the identical centroids
    assert(fit(Similarity.KmeansInit.FarthestPoint(sampleSize = 256)) == spread)
  }

  test("kmeans: empty clusters keep their previous centroid") {
    import spark.implicits._
    // five identical vectors, k=3: everything assigns to label 0 (lowest
    // label tie-break), so clusters 1 and 2 are empty after the update
    // and must keep their seed centroids instead of vanishing or nulling
    val same = (0L until 5L).map(i => (i, Array(1f, 0f, 0f))).toDF("vec_id", "v")
    val cents = Similarity.kmeansFit(same, "vec_id", "v", k = 3, iters = 2)
    assert(cents.count() == 3)
    assert(cents.filter(col("centroid").isNull).count() == 0)
    val ass = Similarity.assignNearestScan(same, "v",
      cents.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq)
    assert(ass.filter(col("assigned_label") === 0).count() == 5)
  }

  test("semanticDedup drops seeded near-dups, keeps originals, and never " +
      "drops without a lower-id same-cluster neighbor above tau") {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
    val dups = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        concat(array(element_at(col("e"), 1) + lit(0.01)),
          slice(col("e"), 2, 63)).as("e"))
    val all = base.unionByName(dups)
    val kept = Similarity.semanticDedup(all, "vec_id", "e",
      k = 4, iters = 2, tau = 0.99)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    val allIds = all.select("vec_id").collect().map(_.getLong(0)).toSet
    // originals always survive: each has no LOWER-id twin
    val seededOrigs = allIds.filter(id => id < 10000 && id % 10 == 0)
    assert(seededOrigs.subsetOf(keptIds), "min-id survivor rule: originals stay")
    val dropped = allIds diff keptIds
    assert(dropped.nonEmpty, "perturbed copies must produce drops")
    // verify every drop is justified: a lower-id same-cluster neighbor
    // with cosine >= tau (recomputed brute force over the cluster map)
    val cents = Similarity.kmeansFit(all, "vec_id", "e", k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    val rows = Similarity.assignNearestScan(all, "e", cents)
      .select(col("vec_id"), col("e"), col("assigned_label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n == 0) -2.0 else d / n
    }
    dropped.foreach { id =>
      val (_, e, c) = rows.find(_._1 == id).get
      assert(rows.exists { case (oid, oe, oc) =>
        oid < id && oc == c && cos(e, oe) >= 0.99 - 1e-6 },
        s"dropped $id must have a lower-id same-cluster near-dup")
    }
    // cluster column rides through for downstream mixing
    assert(kept.columns.contains("cluster"))
  }

  test("PQ: codes in range, ADC score equals dot(probe, reconstruction)") {
    import graft.ext.Similarity
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
    val books = Similarity.pqTrain(base, "vec_id", "e",
      dim = 64, m = 4, k = 8, iters = 1)
    assert(books.size == 4 && books.forall(_.size == 8))
    assert(books.forall(_.forall(_._2.size == 16)))
    val enc = Similarity.pqEncode(base, "e", books)
    val codeRows = enc.select(col("vec_id"), col("codes"), col("e")).collect()
    assert(codeRows.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 8)))
    val probes = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"))
    val top = Similarity.pqAdcTopK(enc, "vec_id", probes, "probe_id", "pe",
      books, k = 5).collect()
    assert(top.nonEmpty)
    // independent reconstruction check: ADC score is the dot of the raw
    // probe against the concatenation of the chosen codewords (each
    // subspace term rounded the way the operator rounds)
    val codesOf = codeRows.map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val probeVec = probes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def rnd(x: Double) = math.floor((x + 1e-9) * 1e6 + 0.5) / 1e6
    top.foreach { r =>
      val (pid, vid, score) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val p = probeVec(pid)
      val expected = rnd((0 until 4).map { s =>
        val word = books(s).sortBy(_._1).map(_._2).apply(codesOf(vid)(s))
        rnd(word.indices.map(d => p(s * 16 + d) * word(d)).sum)
      }.sum)
      assert(math.abs(expected - score) < 2e-6,
        s"probe $pid vec $vid: adc $score vs recon $expected")
    }
  }

  test("IVF-PQ with nprobe=nlist degrades to the full ADC scan, row for row") {
    import graft.ext.Similarity
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
    val books = Similarity.pqTrain(base, "vec_id", "e",
      dim = 64, m = 4, k = 8, iters = 1)
    val probes = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"))
    val full = Similarity.pqAdcTopK(Similarity.pqEncode(base, "e", books),
        "vec_id", probes, "probe_id", "pe", books, k = 5)
      .select("probe_id", "vec_id", "score", "rank").collect().toSet
    val ivf = Similarity.ivfPqTopK(base, "vec_id", "e",
        probes, "probe_id", "pe", books, k = 5, nlist = 8, nprobe = 8)
      .select("probe_id", "vec_id", "score", "rank").collect().toSet
    assert(ivf == full, "probing every cell must equal the unpruned ADC scan")
    // and the pruned search still finds the probe's own quantization
    val pruned = Similarity.ivfPqTopK(base, "vec_id", "e",
        probes, "probe_id", "pe", books, k = 5, nlist = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(probes.collect().forall(p =>
      pruned.exists(_._1 == p.getLong(0))), "every probe gets candidates")
  }

  test("IVF-PQ exact re-rank: scores become true cosines, recall dominates ADC-only") {
    import graft.ext.Similarity
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
    val n = base.count().toInt
    val books = Similarity.pqTrain(base, "vec_id", "e",
      dim = 64, m = 4, k = 8, iters = 1)
    val probes = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(base, "vec_id", "e",
      probes, "probe_id", "pe", k = 5))
    val plain = pairs(Similarity.ivfPqTopK(base, "vec_id", "e",
      probes, "probe_id", "pe", books, k = 5, nlist = 8, nprobe = 4))
    val rrDf = Similarity.ivfPqTopK(base, "vec_id", "e",
      probes, "probe_id", "pe", books, k = 5, nlist = 8, nprobe = 4,
      rerankFrom = 20)
    // re-ranked scores are the TRUE cosines, not ADC reconstructions
    val vecOf = base.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def rnd(x: Double) = math.floor((x + 1e-9) * 1e6 + 0.5) / 1e6
    rrDf.collect().foreach { r =>
      val (pid, vid, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (p, v) = (vecOf(pid), vecOf(vid))
      val dot = p.indices.map(i => p(i) * v(i)).sum
      val cos = dot / (math.sqrt(p.map(x => x * x).sum) *
        math.sqrt(v.map(x => x * x).sum))
      assert(math.abs(rnd(cos) - s) < 2e-6,
        s"probe $pid vec $vid: rerank score $s is not the exact cosine $cos")
    }
    val rr = pairs(rrDf)
    def recall(got: Set[(Long, Long)]) =
      got.intersect(exact).size.toDouble / exact.size
    assert(recall(rr) >= recall(plain),
      s"re-rank recall ${recall(rr)} must dominate ADC-only ${recall(plain)}")
    // no cell loss (nprobe = nlist) + re-rank over every candidate ==
    // exact brute force, pair for pair
    val full = pairs(Similarity.ivfPqTopK(base, "vec_id", "e",
      probes, "probe_id", "pe", books, k = 5, nlist = 8, nprobe = 8,
      rerankFrom = n))
    assert(full == exact,
      "full-coverage re-rank must equal the exact brute-force top-k")
  }

  test("prototypicality pruning drops exactly the most-typical fraction per cluster") {
    import org.apache.spark.sql.functions._
    val vecs = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val pruned = Similarity.prototypePrune(vecs, "vec_id", "embedding",
      k = 8, iters = 2, dropFrac = 0.3)
    assert(pruned.count() == vecs.count(), "every vector gets a verdict")
    val per = pruned.groupBy("cluster").agg(
      count(lit(1)).as("n"),
      sum(when(!col("kept"), 1L).otherwise(0L)).as("dropped"),
      avg(when(!col("kept"), col("score"))).as("drop_avg"),
      avg(when(col("kept"), col("score"))).as("keep_avg")).collect()
    per.foreach { r =>
      val (n, dropped) = (r.getLong(1), r.getLong(2))
      assert(dropped == math.ceil(n * 0.3).toLong,
        s"cluster ${r.get(0)}: $dropped of $n dropped")
      if (dropped > 0 && dropped < n)
        assert(r.getDouble(3) >= r.getDouble(4),
          "dropped rows are the MOST prototypical (highest centroid cosine)")
    }
  }

  test("approx-quantile pruning agrees with the exact rank away from the boundary") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    def keeps(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("kept")).select("vec_id").as[Long].collect().toSet
    val exact = keeps(Similarity.prototypePrune(vecs, "vec_id", "embedding",
      k = 8, iters = 2, dropFrac = 0.3))
    val approx = keeps(Similarity.prototypePruneApprox(vecs, "vec_id", "embedding",
      k = 8, iters = 2, dropFrac = 0.3))
    val n = vecs.count().toDouble
    val agree = 1.0 - (exact.diff(approx).size + approx.diff(exact).size) / n
    assert(agree >= 0.9,
      f"exact/approx keep-set agreement $agree%.3f — the cut may only wobble at quantile ties")
    // and the plan has no per-cluster total order
    val p = Similarity.prototypePruneApprox(vecs, "vec_id", "embedding",
      k = 8, iters = 2, dropFrac = 0.3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "the scale path must not rank clusters")
  }

  test("approx pruning keeps quantile ties: an all-duplicate cluster is never emptied") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two well-separated directions; every vector within a cluster is
    // IDENTICAL, so every assign_score ties at the cluster's quantile
    val e1 = Seq(1.0, 0.0, 0.0, 0.0)
    val e2 = Seq(0.0, 1.0, 0.0, 0.0)
    val vecs = ((0L until 20L).map(i => (i, e1)) ++
      (100L until 120L).map(i => (i, e2))).toDF("vec_id", "e")
    val out = Similarity.prototypePruneApprox(vecs, "vec_id", "e",
      k = 2, iters = 1, dropFrac = 0.3)
    val dropped = out.filter(!col("kept")).count()
    assert(dropped == 0L,
      s"tie-keeping boundary must not empty duplicate clusters (dropped $dropped of 40)")
    assert(out.count() == 40L)
  }

  test("semanticDecontaminate: drops same-bucket near-bench rows, bucket gate is contractual") {
    import spark.implicits._
    def v(pairs: (Int, Double)*): Seq[Double] = {
      val a = Array.fill(64)(0.0)
      pairs.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    // bench: e[0]=0.1, e[4]=1.0 → bucket bit0 set (e[1] > e[33] in SQL's
    // 1-based terms). id 1 is the bench vector itself (cos 1, same
    // bucket → dropped); id 2 is orthogonal (kept); id 3 has cos ≈ 0.98
    // ≥ τ but its FLIPPED first component clears bit0 → different
    // bucket, so the gate (contractually) lets it through.
    val bench = Seq(Tuple1(v(0 -> 0.1, 4 -> 1.0))).toDF("be")
    val corpus = Seq(
      (1L, v(0 -> 0.1, 4 -> 1.0)),
      (2L, v(9 -> 1.0)),
      (3L, v(0 -> -0.1, 4 -> 1.0))).toDF("vec_id", "e")
    val kept = Similarity.semanticDecontaminate(corpus, "vec_id", "e",
        bench, "be", tau = 0.9, bits = 4)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
  }

  test("mmrRerank: diversity beats redundancy, id breaks ties") {
    import spark.implicits._
    // A (rel .9) and B (rel .85) are IDENTICAL vectors; C (rel .5) is
    // orthogonal. λ=.7: step 1 takes A (.63); step 2 prefers C
    // (.7·.5 − .3·0 = .35) over the redundant B (.7·.85 − .3·1 ≈ .295);
    // step 3 takes B at ≈ .295.
    val cand = Seq(
      (1L, 1L, 0.9, Seq(1.0, 0.0)),
      (1L, 2L, 0.85, Seq(1.0, 0.0)),
      (1L, 3L, 0.5, Seq(0.0, 1.0))).toDF("probe_id", "cand_id", "rel", "e")
    val out = Similarity.mmrRerank(cand, "probe_id", "cand_id", "rel", "e",
        k = 3, lambda = 0.7)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._3).toSeq == Seq(1L, 3L, 2L))
    assert(math.abs(out(0)._4 - 0.63) < 1e-6)
    assert(math.abs(out(1)._4 - 0.35) < 1e-6)
    assert(math.abs(out(2)._4 - 0.295) < 1e-6)
    // exact tie (same rel, same vector): lowest candidate id wins
    val tied = Seq(
      (9L, 7L, 0.8, Seq(1.0, 0.0)),
      (9L, 5L, 0.8, Seq(1.0, 0.0))).toDF("probe_id", "cand_id", "rel", "e")
    val first = Similarity.mmrRerank(tied, "probe_id", "cand_id", "rel", "e",
        k = 1, lambda = 0.7)
      .as[(Long, Long, Long, Double)].collect().head
    assert(first._3 == 5L)
  }

  test("mmrRerank: string (UUID-style) ids select identically; mixed id types throw") {
    import spark.implicits._
    // same geometry as the diversity test, ids as UUID-ish strings —
    // the string path must make the same selections, tie-break
    // lexicographic-ascending
    val cand = Seq(
      ("p-1", "doc-a", 0.9, Seq(1.0, 0.0)),
      ("p-1", "doc-b", 0.85, Seq(1.0, 0.0)),
      ("p-1", "doc-c", 0.5, Seq(0.0, 1.0))).toDF("probe_id", "cand_id", "rel", "e")
    val out = Similarity.mmrRerank(cand, "probe_id", "cand_id", "rel", "e",
        k = 3, lambda = 0.7)
      .orderBy("rank").as[(String, Long, String, Double)].collect()
    assert(out.map(_._3).toSeq == Seq("doc-a", "doc-c", "doc-b"))
    assert(out.map(_._1).distinct.toSeq == Seq("p-1"))
    // exact tie: lexicographically-lowest id wins
    val tied = Seq(
      ("p-9", "z", 0.8, Seq(1.0, 0.0)),
      ("p-9", "m", 0.8, Seq(1.0, 0.0))).toDF("probe_id", "cand_id", "rel", "e")
    val first = Similarity.mmrRerank(tied, "probe_id", "cand_id", "rel", "e",
        k = 1, lambda = 0.7)
      .as[(String, Long, String, Double)].collect().head
    assert(first._3 == "m")
    // mixed (string probe, long cand) must throw up front, not NULL-cast
    val mixed = Seq(("p-1", 1L, 0.9, Seq(1.0, 0.0)))
      .toDF("probe_id", "cand_id", "rel", "e")
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(mixed, "probe_id", "cand_id", "rel", "e", 1, 0.5)
    }
  }

  test("mmrRerank: a zero-norm candidate neither crashes nor poisons later steps") {
    import spark.implicits._
    // the zero vector wins step 1 on relevance; its similarity to
    // everything is 0 by contract, so steps 2–3 proceed with finite
    // scores (no NaN cascade, no fabricated (-1, -Inf) row)
    val cand = Seq(
      (1L, 1L, 0.9, Seq(0.0, 0.0)),
      (1L, 2L, 0.5, Seq(1.0, 0.0)),
      (1L, 3L, 0.45, Seq(1.0, 0.0))).toDF("probe_id", "cand_id", "rel", "e")
    val out = Similarity.mmrRerank(cand, "probe_id", "cand_id", "rel", "e",
        k = 3, lambda = 0.7)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._3).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(r => !r._4.isNaN && !r._4.isInfinite))
    // step 3: C pays full redundancy vs B (cos 1) but none vs the zero vec
    assert(math.abs(out(2)._4 - (0.7 * 0.45 - 0.3 * 1.0)) < 1e-6)
    // misuse guards
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(cand, "probe_id", "cand_id", "rel", "e", 3, 1.5)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(cand, "probe_id", "cand_id", "rel", "e", 0, 0.5)
    }
  }

  test("seedExpand: transitive growth one angular step per round, drift bounded") {
    import spark.implicits._
    // one chain of 25°-stepped links in dims 8/9: seed reaches link 1
    // in round 1 (cos 25° ≈ .906 ≥ .9), link 2 only via link 1 in
    // round 2 (seed↔link2 is cos 50° ≈ .64), links 3-4 stay out at
    // rounds = 2
    val ang = Seq((0, 1.0, 0.0), (1, 0.9063077870366499, 0.42261826174069944),
      (2, 0.6427876096865393, 0.766044443118978),
      (3, 0.25881904510252074, 0.9659258262890683),
      (4, -0.17364817766693041, 0.984807753012208))
    val rows = ang.map { case (j, cv, sv) =>
      val a = Array.fill(64)(0.0); a(8) = cv; a(9) = sv
      (j.toLong, a.toSeq)
    }
    val vecs = rows.toDF("vec_id", "e")
    val seeds = Seq(Tuple1(0L)).toDF("vec_id")
    val out = Similarity.seedExpand(vecs, "vec_id", "e", seeds,
        tau = 0.9, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 2L),
      s"round labels must be hop distance from the seed, got $out")
    // deep budget is bounded (per-round lineage cut) and fixpoint-stable:
    // the chain exhausts at round 4 (link 4 is 25° past link 3 but its
    // cosine to link 3 is ≥ .9, so it joins; nothing is left after), so
    // rounds = 20 must equal rounds = 4 exactly and complete in bounded
    // time — pre-cut, the tripling plan hung analysis near rounds ≈ 12
    val t0 = System.nanoTime()
    val deep = Similarity.seedExpand(vecs, "vec_id", "e", seeds,
        tau = 0.9, rounds = 20)
      .as[(Long, Long)].collect().toMap
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 120.0, s"20-round expansion took ${sec}s — cut regressed?")
    val exact = Similarity.seedExpand(vecs, "vec_id", "e", seeds,
        tau = 0.9, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(deep == exact, "post-fixpoint rounds must change nothing")
    graft.core.CacheRegistry.releaseAll()
  }

  test("hammingTopK: sign packing + XOR popcount, integer distances") {
    import spark.implicits._
    val allPos = Seq.fill(64)(1.0)
    val allNeg = Seq.fill(64)(-1.0)
    val oneFlip = -1.0 +: Seq.fill(63)(1.0)
    val vecs = Seq((1L, allPos), (2L, allNeg), (3L, oneFlip)).toDF("vec_id", "e")
    val probes = Seq((1L, allPos)).toDF("probe_id", "pe")
    val out = graft.ext.Similarity.hammingTopK(vecs, "vec_id", "e",
        probes, "probe_id", "pe", k = 3)
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(out.map(r => r._2 -> r._3).toSeq == Seq(1L -> 0L, 3L -> 1L, 2L -> 64L))
    // packing sanity: all-positive = 2^32 − 1 in both halves
    val packed = vecs.filter(col("vec_id") === 1L)
      .select(graft.ext.Similarity.signPackHalf(col("e"), 0),
        graft.ext.Similarity.signPackHalf(col("e"), 32))
      .as[(Long, Long)].head()
    assert(packed == (((1L << 32) - 1, (1L << 32) - 1)))
  }

  test("knnClassify: majority vote of the k nearest labels, min label on ties") {
    import spark.implicits._
    val labeled = Seq(
      (1L, Seq(1.0, 0.0), 0),
      (2L, Seq(0.9, 0.1), 0),
      (3L, Seq(0.0, 1.0), 1)).toDF("vec_id", "e", "label")
    val probe = Seq((100L, Seq(1.0, 0.05))).toDF("probe_id", "pe")
    val out = Similarity.knnClassify(labeled, "vec_id", "e", "label",
        probe, "probe_id", "pe", k = 3)
      .as[(Long, Long, Long)].collect().head
    assert(out == ((100L, 0L, 2L)), s"2-of-3 vote for label 0, got $out")
    // k=2: one vote each for labels 0 and 1 → smallest label wins
    val mid = Seq((200L, Seq(1.0, 1.0))).toDF("probe_id", "pe")
    val tied = Similarity.knnClassify(
        labeled.filter(col("vec_id") =!= 2L), "vec_id", "e", "label",
        mid, "probe_id", "pe", k = 2)
      .as[(Long, Long, Long)].collect().head
    assert(tied == ((200L, 0L, 1L)))
    // labels keep their own type — string topics vote and tie-break
    // lexicographically, no numeric coercion anywhere
    val strLabeled = Seq(
      (1L, Seq(1.0, 0.0), "news"),
      (2L, Seq(0.9, 0.1), "news"),
      (3L, Seq(0.0, 1.0), "sports")).toDF("vec_id", "e", "label")
    val strOut = Similarity.knnClassify(strLabeled, "vec_id", "e", "label",
        probe, "probe_id", "pe", k = 3)
      .as[(Long, String, Long)].collect().head
    assert(strOut == ((100L, "news", 2L)))
  }

  test("pcaTopComponent: recovers the dominant variance direction, unit norm, deterministic") {
    // variance concentrated along (e1+e2)/√2; small independent spread
    // on e3; e4 constant — loadings must order |l1|≈|l2| >> |l3| >> l4=0
    val rows = (1 to 40).map { t =>
      val s = (t % 9) - 4.0           // -4..4 spread along the diagonal
      val e = ((t % 5) - 2.0) * 0.05  // small noise on dim 3
      Seq(s, s, e, 1.0)
    }
    val df = rows.map(Tuple1(_)).toDF("e")
    val out = Similarity.pcaTopComponent(df, "e", dim = 4, iters = 3)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    val l = out.map(_._2)
    val eig = out.head._3
    assert(math.abs(math.abs(l(0)) - math.sqrt(0.5)) < 0.01, l.toSeq)
    assert(math.abs(l(0) - l(1)) < 1e-6, "diagonal components equal")
    assert(math.abs(l(2)) < 0.05, "noise dim near zero")
    assert(l(3) == 0.0, "constant dim exactly zero after centering")
    assert(math.abs(l.map(x => x * x).sum - 1.0) < 1e-4, "unit norm")
    assert(eig > 5.0, s"diagonal variance dominates, eig=$eig")
    val again = Similarity.pcaTopComponent(df, "e", dim = 4, iters = 3)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(again.toSeq == out.toSeq, "bit-deterministic")
  }

  test("GramAggregator == relational gramCells, bit for bit") {
    val rows = (1 to 30).map(i =>
      Tuple1(Seq((i % 7 - 3).toLong, (i % 5 - 2).toLong, (i % 3 - 1).toLong)))
    val cent = rows.toDF("c")
    val agg = cent.as[Seq[Long]]
      .select(new Similarity.GramAggregator(3).toColumn.name("g")).head()
    val rel = Similarity.gramCells(cent, "c", 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (i <- 1 to 3; j <- 1 to 3)
      assert(agg((i - 1) * 3 + (j - 1)) === rel((i, j)), s"cell ($i,$j)")
  }

  test("pcaTopComponent: constant corpus degenerates to zero, not NaN") {
    val df = (1 to 5).map(_ => Tuple1(Seq(1.0, 2.0, 3.0))).toDF("e")
    val out = Similarity.pcaTopComponent(df, "e", dim = 3, iters = 2)
      .as[(Long, Double, Double)].collect()
    assert(out.forall(r => r._2 == 0.0 && r._3 == 0.0))
  }
}
