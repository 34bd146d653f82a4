package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Windows

/**
 * Similarity search over embedding columns (`array<float>`):
 * brute-force cosine top-k as the exact baseline, plus a bucketed
 * (sparse-random-projection sign LSH) variant as the scale path.
 *
 * Scale design:
 *  - The probe set is always the SMALL side and is broadcast — the big
 *    vector table never shuffles for brute force; cost is one pass of
 *    O(|vectors| × |probes| × dim) codegen'd arithmetic + a per-probe
 *    top-k (rank window partitioned by probe, which shuffles only
 *    (probe, id, score) triples, never the vectors).
 *  - The LSH variant buckets both sides by a sign signature; candidate
 *    generation is a hash join on bucket id, so per-probe work drops from
 *    |vectors| to |bucket|. Bits are tunable: recall/cost knob.
 *  - Dot products ride `zip_with` + `aggregate` (whole-stage codegen) in
 *    double precision — no UDF, no JVM boxing per element.
 */
object Similarity {

  /** Cast a float vector to double for numerically stable scoring. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential dot product (left-to-right sum, reproducible). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0d), (acc, v) => acc + v)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity; NULL when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(l2Norm(a) * l2Norm(b), lit(0d))

  /**
   * Codegen'd one-pass cosine (graft.functions.CosineSimilarity):
   * bit-identical to [[cosine]] but a single generated loop instead of
   * three interpreted array walks. Requires registration
   * ([[graft.functions.GraftFunctions.register]]) — the operators below
   * do so on demand via the frame's session.
   */
  def cosineNative(a: Column, b: Column): Column =
    call_function(graft.functions.GraftFunctions.CosineName, a, b)

  /**
   * Brute-force exact top-k: broadcast the probes, score every
   * (vector, probe) pair, keep k per probe by (score desc, id) — rank
   * window over scores only. Ties beyond k are cut deterministically by
   * the id tiebreak. With LONG ids and FLOAT/DOUBLE vectors every graft
   * session plans this as the fused [[graft.plans.CosineTopK]] operator
   * ([[graft.plans.FuseCosineTopK]]): one pass over the vectors with a
   * bounded per-probe buffer per partition, then a kilobyte-sized merge
   * — no Exchange, no Window, the same rows.
   */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
                     probes: DataFrame, probeIdCol: String, probeVecCol: String,
                     k: Int, scoreDigits: Int = 6): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val scored = vectors.crossJoin(broadcast(probes))
      .withColumn("score",
        round(cosineNative(col(vecCol), col(probeVecCol)) + lit(1e-9), scoreDigits))
      .select(col(probeIdCol), col(idCol), col("score"))
    scored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(probeIdCol)).orderBy(desc("score"), col(idCol))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /**
   * Exact k-nearest-neighbor graph: every vector's k closest OTHER
   * vectors by cosine — the building block for embedding-space
   * clustering, semantic dedup sweeps, and diversity sampling. Exact
   * form scores all pairs (self excluded) with the codegen'd cosine and
   * keeps k per source by (score desc, id).
   *
   * Scale note: all-pairs is O(n²) and the probe broadcast is the whole
   * table — correct only up to ~10⁵ vectors per side. The corpus-scale
   * path is candidate generation via the sign-LSH bucket families
   * ([[annTopKMultiTable]]) or IVF cells ([[ivfAssign]]), then this
   * exact scoring WITHIN each candidate block; the graph loses only
   * cross-bucket edges the bands were sized to make improbable.
   *
   * Every graft session plans this as the fused [[graft.plans.CosineTopK]]
   * operator with self-exclusion ([[graft.plans.FuseCosineTopK]]). The
   * scanned side is widened first: the operator's scoring pass is
   * per-partition and its merge global, so a single-file embedding scan
   * would otherwise run the whole O(n²) kernel in one task.
   */
  def knnGraph(vectors: DataFrame, idCol: String, vecCol: String,
               k: Int, scoreDigits: Int = 6): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val probes = vectors.select(col(idCol).as("src_id"), col(vecCol).as("__pv"))
    val scored = graft.core.Parallel.widen(vectors).crossJoin(broadcast(probes))
      .filter(col(idCol) =!= col("src_id"))
      .withColumn("score",
        round(cosineNative(col(vecCol), col("__pv")) + lit(1e-9), scoreDigits))
      .select(col("src_id"), col(idCol).as("dst_id"), col("score"))
    scored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src_id")).orderBy(desc("score"), col("dst_id"))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /**
   * Approximate kNN graph — the corpus-scale path [[knnGraph]] defers to
   * beyond ~10⁵ vectors. Candidate generation is a SELF-JOIN on
   * (table, bucket) sign-LSH keys ([[bucketIdT]] families): the source
   * side probes at hamming-`multiprobeHamming`, the destination side
   * keeps its exact bucket, so a pair is a candidate iff SOME table's
   * signatures differ in ≤ `multiprobeHamming` bits — identical candidate
   * semantics to [[annTopKMultiTable]], but as an equi-join with NO
   * whole-table broadcast: Catalyst picks hash/sort-merge on (t, b), and
   * each side shuffles only tables×(1(+bits)) replicas of (id, vec).
   * Candidate pairs are deduplicated before the exact cosine scoring and
   * the per-source top-k.
   *
   * Scale knobs: `bits` bounds bucket size (parallelism/skew — raise it
   * as n grows so 2^bits ≫ shuffle partitions), `tables` raises recall
   * without growing buckets. Measured on the fixture embeddings
   * (500×64-dim, k=3): bits=4, 8 tables, hamming-1 multiprobe → recall
   * ≥ 0.9 vs the exact graph (`SimilaritySpec`).
   */
  def knnGraphApprox(vectors: DataFrame, idCol: String, vecCol: String,
                     k: Int, bits: Int = 4, tables: Int = 8,
                     multiprobeHamming: Int = 1,
                     scoreDigits: Int = 6): DataFrame = {
    require(multiprobeHamming >= 0 && multiprobeHamming <= 1,
      "only hamming-0 (exact bucket) and hamming-1 multiprobe are supported")
    require(tables >= 1, "need at least one table")
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    def exploded(df: DataFrame, id: String, vc: String,
                 multiprobe: Boolean): DataFrame = {
      val perTable = (0 until tables).map { t =>
        val b0 = bucketIdT(col(vc), bits, t)
        val bs =
          if (!multiprobe) array(b0)
          else array(b0 +: (0 until bits).map(j => b0.bitwiseXOR(lit(1 << j))): _*)
        transform(bs, b => struct(lit(t).as("t"), b.as("b")))
      }.reduce(concat(_, _))
      df.withColumn("__tb", explode(perTable))
        .select(col(id), col(vc), col("__tb.t").as("__t"), col("__tb.b").as("__b"))
    }
    // widen the single-file vector scan before the per-table bucket-id
    // expressions (tables × bits sign-dot-products per row otherwise run
    // in one task; guide §2.5 — guarded no-op on multi-split inputs)
    val wvec = graft.core.Parallel.widen(vectors)
    val src = exploded(
      wvec.select(col(idCol).as("src_id"), col(vecCol).as("__pv")),
      "src_id", "__pv", multiprobeHamming == 1)
    val dst = exploded(
      wvec.select(col(idCol).as("dst_id"), col(vecCol)),
      "dst_id", vecCol, multiprobe = false)
    // score AT the collision site, then dedup on the narrow
    // (src, dst, score) triple: a pair colliding in several tables is
    // re-scored (cheap, deterministic — max() is a no-op combiner), but
    // the vectors never shuffle past the bucket join. Deduplicating
    // first would drag both embedding arrays through the exchange —
    // measured 30× slower at the fixture.
    val scored = src.join(dst, Seq("__t", "__b"))
      .filter(col("src_id") =!= col("dst_id"))
      .withColumn("score",
        round(cosineNative(col(vecCol), col("__pv")) + lit(1e-9), scoreDigits))
      .groupBy(col("src_id"), col("dst_id")).agg(max(col("score")).as("score"))
    scored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src_id")).orderBy(desc("score"), col("dst_id"))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /**
   * Sparse-random-projection sign LSH bucket id: bit j is the sign of
   * v · (e_j − e_{j+32}) = v[j] > v[j+32] — a fixed sparse hyperplane
   * family that is expressible in any engine (no hash functions), cheap
   * (2 reads per bit), and deterministic.
   */
  def bucketId(vec: Column, bits: Int = 4): Column =
    (0 until bits).map { j =>
      when(element_at(vec, j + 1) > element_at(vec, j + 33), lit(1 << j))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /**
   * Per-table sign-LSH bucket: table `t` draws a DIFFERENT deterministic
   * coordinate-pair hyperplane family (t = 0 is [[bucketId]]'s family), so
   * each table mis-buckets a different subset of true neighbors — the
   * multi-table recall construction: P(found) = 1 − (1 − p^bits)^tables.
   * Requires dim >= 64.
   */
  def bucketIdT(vec: Column, bits: Int, table: Int): Column =
    (0 until bits).map { j =>
      val a = (5 * table + j) % 32
      val b = 32 + ((3 * table + j) % 32)
      when(element_at(vec, a + 1) > element_at(vec, b + 1), lit(1 << j))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /**
   * ANN top-k via LSH buckets: candidates are same-bucket vectors only.
   * Trades recall for a |bucket|/|vectors| cost reduction; raise `bits`
   * to shrink buckets, lower it — or multiprobe — to raise recall.
   *
   * `multiprobeHamming = 1` also probes every bucket whose sign signature
   * differs in exactly one bit (the standard multiprobe move: a probe near
   * a hyperplane most likely lands one sign flip away). Cost multiplies by
   * (1 + bits) PROBE rows — still broadcast-small — while the vector side
   * is untouched; recall at a given `bits` rises sharply (see the measured
   * table in `SimilaritySpec`). Probe buckets are distinct values and each
   * vector lives in exactly one bucket, so no candidate dedup is needed.
   */
  def annTopK(vectors: DataFrame, idCol: String, vecCol: String,
              probes: DataFrame, probeIdCol: String, probeVecCol: String,
              k: Int, bits: Int = 4, scoreDigits: Int = 6,
              multiprobeHamming: Int = 0): DataFrame = {
    require(multiprobeHamming >= 0 && multiprobeHamming <= 1,
      "only hamming-0 (exact bucket) and hamming-1 multiprobe are supported")
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val vb = vectors.withColumn("__bucket", bucketId(col(vecCol), bits))
    val pb0 = probes.withColumn("__b0", bucketId(col(probeVecCol), bits))
    val pb =
      if (multiprobeHamming == 0) pb0.withColumnRenamed("__b0", "__bucket")
      else pb0.withColumn("__bucket",
          explode(array(col("__b0") +:
            (0 until bits).map(j => col("__b0").bitwiseXOR(lit(1 << j))): _*)))
        .drop("__b0")
    val scored = vb.join(broadcast(pb), Seq("__bucket"))
      .withColumn("score",
        round(cosineNative(col(vecCol), col(probeVecCol)) + lit(1e-9), scoreDigits))
      .select(col(probeIdCol), col(idCol), col("score"))
    scored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(probeIdCol)).orderBy(desc("score"), col(idCol))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /**
   * Multi-table ANN top-k: `tables` independent sign-LSH tables, each
   * optionally multiprobed at hamming-1. Candidates are the UNION of
   * same-(table, bucket) pairs, deduplicated BEFORE scoring so each
   * (probe, vector) pair is scored once.
   *
   * Scale shape: the vector side explodes ×tables but stays map-side
   * (probes broadcast, join needs no shuffle); only the deduplicated
   * (probe, id) candidate set and its scores shuffle. Recall follows
   * 1 − (1 − p^bits)^tables — tables is the recall knob that does NOT
   * grow bucket size, unlike lowering bits. Measured on the fixture
   * embeddings (500×64-dim, k=10): bits=4 single-table 0.23 recall,
   * +multiprobe 0.51; 2/4/8 tables +multiprobe → 0.71 / 0.93 / 0.99
   * (`SimilaritySpec` pins recall ≥ 0.9 at bits=4, tables=8, multiprobe).
   */
  def annTopKMultiTable(vectors: DataFrame, idCol: String, vecCol: String,
                        probes: DataFrame, probeIdCol: String, probeVecCol: String,
                        k: Int, bits: Int = 4, tables: Int = 4,
                        multiprobeHamming: Int = 1,
                        scoreDigits: Int = 6): DataFrame = {
    require(tables >= 1, "need at least one table")
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    def withBuckets(df: DataFrame, vc: String, multiprobe: Boolean): DataFrame = {
      val perTable = (0 until tables).map { t =>
        val b0 = bucketIdT(col(vc), bits, t)
        val bs =
          if (!multiprobe) array(b0)
          else array(b0 +: (0 until bits).map(j => b0.bitwiseXOR(lit(1 << j))): _*)
        transform(bs, b => struct(lit(t).as("t"), b.as("b")))
      }.reduce(concat(_, _))
      df.withColumn("__tb", explode(perTable))
        .select(df.columns.map(col) :+ col("__tb.t").as("__t") :+ col("__tb.b").as("__b"): _*)
    }
    val vb = withBuckets(vectors, vecCol, multiprobe = false)
    val pb = withBuckets(probes, probeVecCol, multiprobeHamming == 1)
    // distinct BEFORE scoring: a pair colliding in several tables (the
    // common case for true neighbors) must not be scored repeatedly
    val cand = vb.join(broadcast(pb), Seq("__t", "__b"))
      .select(col(probeIdCol), col(idCol), col(vecCol), col(probeVecCol))
      .dropDuplicates(probeIdCol, idCol)
    val scored = cand.withColumn("score",
        round(cosineNative(col(vecCol), col(probeVecCol)) + lit(1e-9), scoreDigits))
      .select(col(probeIdCol), col(idCol), col("score"))
    scored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(probeIdCol)).orderBy(desc("score"), col(idCol))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /**
   * IVF-style coarse assignment: per-label centroids (posexplode →
   * groupBy(label, pos) → avg → re-assemble), then each vector is
   * assigned to its nearest centroid by cosine. The centroid table is
   * tiny and broadcast; the vector side never shuffles.
   */
  def centroids(vectors: DataFrame, labelCol: String, vecCol: String): DataFrame =
    vectors
      .select(col(labelCol), posexplode(asDouble(col(vecCol))).as(Seq("__pos", "__v")))
      .groupBy(col(labelCol), col("__pos")).agg(avg(col("__v")).as("__avg"))
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__avg")))).as("__pairs"))
      .select(col(labelCol).as("centroid_label"),
        transform(col("__pairs"), p => p.getField("__avg")).as("centroid"))

  /**
   * IVF (inverted-file) ANN search — the coarse-quantizer scale path:
   * vectors are assigned once to their nearest of `nlist` centroid cells
   * (a hash-partition-initialized one-pass average — deterministic, no
   * iterative k-means, engine-portable); a probe then scores ONLY the
   * vectors in its `nprobe` nearest cells. Per-probe cost drops from
   * |vectors| to ~|vectors| × nprobe / nlist; `nprobe` is the recall/cost
   * knob (nprobe = nlist degrades gracefully to brute force).
   *
   * Scale shape: the centroid table (nlist × dim doubles) broadcasts to
   * both assignments; the probe-cell table broadcasts to the candidate
   * join, so the vector side never shuffles — candidates flow map-side
   * into the per-probe top-k window, which moves only (probe, id, score).
   * Centroid components are fp-stabilized (round 6) so cell assignment is
   * reproducible across engines.
   */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
              probes: DataFrame, probeIdCol: String, probeVecCol: String,
              k: Int, nlist: Int = 8, nprobe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val cents = centroids(
        vectors.withColumn("__lbl", col(idCol) % nlist), "__lbl", vecCol)
      .select(col("centroid_label"),
        transform(col("centroid"), x => round(x + lit(1e-9), 6)).as("centroid"))
    val vass = assignNearestCentroid(vectors, idCol, vecCol, cents)
      .select(col(idCol), col("assigned_label").as("__cell"))
    val vcell = vectors.join(vass, Seq(idCol))
    val pscored = probes.crossJoin(broadcast(cents))
      .withColumn("__s",
        round(cosineNative(col(probeVecCol), col("centroid")) + lit(1e-9), 6))
    val pcells = pscored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(probeIdCol)).orderBy(desc("__s"), col("centroid_label"))))
      .filter(col("__rn") <= nprobe)
      .select(col(probeIdCol), col(probeVecCol), col("centroid_label").as("__cell"))
    val scored = vcell.join(broadcast(pcells), Seq("__cell"))
      .withColumn("score",
        round(cosineNative(col(vecCol), col(probeVecCol)) + lit(1e-9), 6))
      .select(col(probeIdCol), col(idCol), col("score"))
    scored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(probeIdCol)).orderBy(desc("score"), col(idCol))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  def assignNearestCentroid(vectors: DataFrame, idCol: String, vecCol: String,
                            cents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val scored = vectors.crossJoin(broadcast(cents))
      .withColumn("score",
        round(cosineNative(col(vecCol), col("centroid")) + lit(1e-9), 6))
    scored.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(desc("score"), col("centroid_label"))))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("centroid_label").as("assigned_label"), col("score"))
  }

  /**
   * Symmetric int8 scalar quantization (the storage-compression step of a
   * vector index): per-vector scale = max|x| / 127, q = round(x / scale)
   * ∈ [-127, 127]. Emitted exploded as (id, dim, q) — the layout a
   * columnar quantized index ingests, and one that needs no shuffle at
   * all (pure projection + generator). The +1e-9 nudge keeps the
   * round-half side deterministic across engines. Zero vectors quantize
   * to all zeros.
   */
  def int8Quantize(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors
      .select(col(idCol),
        (array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0))
          .as("scale"),
        col(vecCol))
      .select(col(idCol), col("scale"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        when(col("scale") === 0, lit(0L))
          .otherwise(round(col("x").cast("double") / col("scale") + lit(1e-9))
            .cast("long")).as("q"))

  /**
   * Deterministic ±1/√k sign matrix for [[jlProject]]: entry (j, i) is
   * +1/√outDim when the first hex digit of md5("seed_i_j") (1-based
   * indices) is below '8', else −1/√outDim. md5 makes the matrix
   * engine-independent — any SQL engine with md5 rebuilds it exactly,
   * which is what lets the projection carry a DuckDB oracle. No RNG
   * state: the seed string IS the matrix.
   */
  def jlSignMatrix(dim: Int, outDim: Int, seed: String): Seq[Seq[Double]] = {
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    Seq.tabulate(outDim, dim) { (j0, i0) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${seed}_${i0 + 1}_${j0 + 1}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((d(0) >> 4) & 0xf) < 8) inv else -inv
    }
  }

  /**
   * Johnson–Lindenstrauss random projection (Achlioptas 2003 ±1
   * construction): project `dim`-dimensional vectors to `outDim`
   * dimensions through the [[jlSignMatrix]] — the dimensionality-
   * reduction step run before ANN indexing when raw embedding width is
   * the cost driver (distance distortion is O(1/√outDim), independent
   * of the INPUT dimension). Output: (id, proj), components rounded to
   * 6 digits.
   *
   * Scale: the matrix is an outDim×dim literal riding the scan (16×64
   * ≈ 8 KB here; broadcast it explicitly if outDim×dim grows to MBs),
   * and each row's projection is a per-row fold — scan-only, no
   * shuffle, no state.
   */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                dim: Int, outDim: Int, seed: String = "jl"): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim (got dim=$dim outDim=$outDim)")
    val m = typedLit(jlSignMatrix(dim, outDim, seed))
    df.select(col(idCol),
      transform(sequence(lit(1), lit(outDim)), j =>
        round(aggregate(
          zip_with(col(vecCol), element_at(m, j),
            (x, s) => x.cast("double") * s),
          lit(0.0d), (a, b) => a + b) + lit(1e-9), 6)).as("proj"))
  }

  /**
   * Two-stage ANN through the JL projection: candidates come from
   * cosine in the PROJECTED space (outDim-wide — the cheap pass), the
   * final ranking from exact cosine in the ORIGINAL space over
   * candidates only. The standard coarse-then-exact retrieval stack
   * with JL as the coarse quantizer: candidate generation touches
   * outDim/dim of the bytes, the exact pass touches `candidates` rows
   * per probe instead of the corpus. Raise `candidates` to trade cost
   * for recall, exactly like nprobe in the IVF family.
   *
   * Scale: BOTH top-k selections run through
   * [[graft.functions.TopKAggregator.topKPerKey]] (map-side-combining
   * bounded buffers), never a rank window — with a window every scored
   * corpus row would shuffle to its probe's single reducer; with the
   * aggregator only per-partition winners (≤ candidates × partitions
   * per probe) reach the shuffle. Ties break (score DESC, id ASC),
   * identical to the row_number form. `idCol` must be integral (emitted
   * as long) or string — TopKAggregator's dispatch contract.
   */
  def annTopKJl(vectors: DataFrame, idCol: String, vecCol: String,
                probes: DataFrame, probeIdCol: String, probeVecCol: String,
                dim: Int, outDim: Int, candidates: Int, k: Int,
                seed: String = "jl"): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    val pv = jlProject(vectors, idCol, vecCol, dim, outDim, seed)
    val pp = jlProject(probes, probeIdCol, probeVecCol, dim, outDim, seed)
      .withColumnRenamed("proj", "__pproj")
    val scored = pv.crossJoin(broadcast(pp))
      .withColumn("__cs", round(cosine(col("proj"), col("__pproj"))
        + lit(1e-9), 6))
    val cand = graft.functions.TopKAggregator
      .topKPerKey(scored, Seq(probeIdCol), col("__cs"), col(idCol),
        candidates, "__cs", idCol)
      .select(col(probeIdCol), col(idCol))
    val exact = cand.join(vectors, Seq(idCol))
      .join(broadcast(probes), Seq(probeIdCol))
      .withColumn("__score", round(cosine(asDouble(col(vecCol)),
        asDouble(col(probeVecCol))) + lit(1e-9), 6))
    graft.functions.TopKAggregator
      .topKPerKey(exact, Seq(probeIdCol), col("__score"), col(idCol),
        k, "score", idCol)
      .select(col(probeIdCol), col(idCol), col("score"))
  }

  /**
   * Dimension-wise mean pooling per key (class centroids, cluster means,
   * label prototypes): explode to (key, dim, x) and aggregate — one
   * shuffle on (key, dim), reducer state O(1) per group regardless of
   * group size. The mean is computed over 1e-6-FIXED-POINT values (exact
   * integer sum, one division) so the result is independent of summation
   * order — the property that keeps distributed results reproducible and
   * engine-comparable; the quantization error (≤ 5e-7 per element) is far
   * below float input precision.
   */
  def meanPoolByKey(vectors: DataFrame, keyCol: String, vecCol: String): DataFrame =
    vectors
      .select(col(keyCol).cast("long").as("pool_key"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("pool_key"), col("dim").cast("long").as("dim"))
      .agg(round(
        sum(round(col("x").cast("double") * lit(1e6)).cast("long")).cast("double")
          / (count(lit(1)).cast("double") * lit(1e6)) + lit(1e-9), 6)
        .as("mean_val"))

  /**
   * Top principal component by the covariance trick + power iteration —
   * the embedding-space diagnostic run before whitening/reduction
   * decisions: the dominant variance direction and its eigenvalue. The
   * corpus is touched in exactly TWO distributed passes regardless of
   * size: (1) fixed-point dimension means (the [[meanPoolByKey]]
   * convention — exact integer sums, one division), (2) the centered
   * dim×dim outer-product sums, generated scan-side per row and
   * collapsed by ONE map-side-combined hash aggregation (≤ dim² cells
   * per partition reach the shuffle — never row-pairs, never a
   * row-keyed self-join). The gram matrix is dim² longs (32 KB at
   * dim=64 — the k-means-centroid bounded-driver-state contract), and
   * power iteration runs on the driver in O(iters·dim²) arithmetic,
   * corpus-independent.
   *
   * Fp posture: centered values are 1e-6 fixed-point integers, so the
   * gram cells are EXACT integer sums (order-free; bound: n·(2·10⁶·
   * maxAbs)² < 2⁶³ — ~10⁹ unit-scale rows before rescaling is needed);
   * covariance entries and every iteration step round(+1e-9, 6) after
   * each operation (HALF_UP — Spark/DuckDB ROUND semantics), so the
   * whole trajectory replays bit-identically in the SQL oracle.
   * The eigenvector sign is pinned by the deterministic start
   * v₀ = round(1/√dim) — no sign ambiguity.
   *
   * @return dim rows (j, loading, eigval): 1-based dimension, the
   *         unit top-eigenvector component after `iters` rounds, and
   *         the Rayleigh eigenvalue estimate ‖C·v‖ of the final round
   */
  def pcaTopComponent(vectors: DataFrame, vecCol: String,
                      dim: Int, iters: Int): DataFrame = {
    require(dim >= 1 && iters >= 1, "need dim >= 1 and iters >= 1")
    val spark = vectors.sparkSession
    import spark.implicits._
    val vs = vectors.select(asDouble(col(vecCol)).as("__v"))
      .filter(size(col("__v")) === dim)
    val n = vs.count()
    require(n > 0, "need at least one vector of the declared dim")
    val muLit = typedLit(dimensionMeans(vs, "__v", dim).toSeq)
    // pass 2: centered 1e-6 fixed-point ints -> the dim² outer-product
    // sums through the typed [[GramAggregator]] (one buffer per
    // partition, merged driver-side — zero row amplification; the
    // relational [[gramCells]] twin is spec-asserted bit-identical and
    // carries the oracle)
    val cent = vs.select(transform(sequence(lit(1), lit(dim)), i =>
      round((element_at(col("__v"), i) - element_at(muLit, i)) * lit(1e6)
        + lit(1e-9)).cast("long")).as("__c"))
    val gram = cent.as[Seq[Long]]
      .select(new GramAggregator(dim).toColumn.name("g")).head()
    val cov = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim)
      cov(i)(j) =
        roundHalfUp(gram(i * dim + j).toDouble / (n.toDouble * 1e12) + 1e-9, 6)
    // driver power iteration — identical arithmetic to the SQL oracle's
    // unrolled rounds
    var v = Array.fill(dim)(roundHalfUp(1.0 / math.sqrt(dim.toDouble) + 1e-9, 6))
    var eig = 0.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim) { i =>
        var s = 0.0
        var j = 0
        while (j < dim) { s += cov(i)(j) * v(j); j += 1 }
        roundHalfUp(s + 1e-9, 6)
      }
      val ns = w.map(x => x * x).sum
      if (ns == 0.0) {
        // degenerate (constant corpus): zero covariance, zero component
        eig = 0.0
        v = w
      } else {
        eig = roundHalfUp(math.sqrt(ns) + 1e-9, 6)
        v = w.map(x => roundHalfUp(x / math.sqrt(ns) + 1e-9, 6))
      }
    }
    (1 to dim).map(j => (j.toLong, v(j - 1), eig))
      .toDF("j", "loading", "eigval")
  }

  /**
   * Per-dimension fixed-point means of a vector column (1-based index
   * order) — [[meanPoolByKey]]'s arithmetic collected to a bounded
   * driver array (dim doubles): exact integer sums, one division,
   * round(+1e-9, 6). Shared by [[pcaTopComponent]] (centering) and the
   * PC1 scoring query; the SQL oracle rebuilds it identically.
   */
  def dimensionMeans(vectors: DataFrame, vecCol: String,
                     dim: Int): Array[Double] = {
    val vs = vectors.select(asDouble(col(vecCol)).as("__mv"))
      .filter(size(col("__mv")) === dim)
    val n = vs.count()
    require(n > 0, "need at least one vector of the declared dim")
    val m = vs.select(posexplode(col("__mv")).as(Seq("__i0", "__x")))
      .groupBy((col("__i0") + 1).as("i"))
      .agg(round(sum(round(col("__x") * lit(1e6)).cast("long")).cast("double")
        / lit(n.toDouble * 1e6) + lit(1e-9), 6).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    Array.tabulate(dim)(i => m(i + 1))
  }

  /**
   * dim² outer-product sums of fixed-point vectors as a mergeable typed
   * [[org.apache.spark.sql.expressions.Aggregator]] — the production
   * gram pass for [[pcaTopComponent]]: each partition folds its rows
   * into ONE dim²-long buffer (map-side), buffers merge by addition,
   * and no dim²-per-row cell stream ever materializes. Integer sums →
   * bit-identical to the relational [[gramCells]] twin (spec-pinned).
   */
  final class GramAggregator(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](dim * dim)
    override def reduce(buf: Array[Long], c: Seq[Long]): Array[Long] = {
      if (c != null && c.length == dim) {
        val a = c.toArray
        var i = 0
        while (i < dim) {
          val ci = a(i)
          if (ci != 0L) {
            var j = 0
            while (j < dim) { buf(i * dim + j) += ci * a(j); j += 1 }
          }
          i += 1
        }
      }
      buf
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /**
   * Relational twin of [[GramAggregator]]: dim² (i, j, g) cells from a
   * single-column frame of dim-long fixed-point arrays — scan-side cell
   * generation + one map-side-combined hash aggregation (PlanSpec-
   * pinned). Exists for the SQL oracle and the identity assertion; the
   * operator itself runs the aggregator.
   */
  def gramCells(cent: DataFrame, vecCol: String, dim: Int): DataFrame =
    cent
      .select(explode(flatten(transform(sequence(lit(1), lit(dim)), i =>
        transform(sequence(lit(1), lit(dim)), j =>
          struct(i.as("i"), j.as("j"),
            (element_at(col(vecCol), i) * element_at(col(vecCol), j))
              .as("p")))))).as("__cell"))
      .groupBy(col("__cell.i").as("i"), col("__cell.j").as("j"))
      .agg(sum(col("__cell.p")).as("g"))

  // ---- Learned clustering: distributed Lloyd's k-means ------------------

  /**
   * Scan-only nearest-centroid assignment: the centroid table (k × dim
   * doubles — kilobytes) is embedded as an array literal and the argmax
   * runs inside the row projection, so assignment moves NOTHING — no
   * shuffle, no window, no broadcast exchange even. Compare
   * [[assignNearestCentroid]], which ranks a crossJoin through a
   * per-vector window. Tie-break: highest score, then LOWEST label
   * (encoded as max over struct(score, -label)); NULL scores (zero-norm
   * vectors) are floored to -2 so they deterministically take label 0.
   *
   * Output = every input column + `assigned_label` + `assign_score`.
   */
  def assignNearestScan(vectors: DataFrame, vecCol: String,
                        cents: Seq[(Long, Seq[Double])],
                        scoreDigits: Int = 6): DataFrame = {
    require(cents.nonEmpty, "assignNearestScan needs at least one centroid")
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val centLit = typedLit(cents)
    val best = array_max(transform(centLit, c => struct(
      coalesce(round(cosineNative(col(vecCol), c.getField("_2"))
        + lit(1e-9), scoreDigits), lit(-2d)).as("s"),
      (-c.getField("_1")).as("nl"))))
    vectors
      .withColumn("__b", best)
      .withColumn("assigned_label", -col("__b.nl"))
      .withColumn("assign_score", col("__b.s"))
      .drop("__b")
  }

  /**
   * Distributed Lloyd's k-means with cosine assignment. Deterministic
   * and engine-reproducible by construction: seeds are the k lowest-id
   * vectors (labels 0..k-1 in id order), assignment tie-breaks on lowest
   * label, and centroid components are fp-stabilized (`round(+1e-9, 6)`)
   * after seeding and after every mean update, so both engines iterate
   * over bit-identical centroid inputs and divergence cannot compound
   * across iterations.
   *
   * Per-iteration scale shape (the reason this survives 100 TB):
   *  - assignment is a pure projection against the centroid literal
   *    ([[assignNearestScan]]) — zero data movement;
   *  - the mean update explodes to (label, dim, x) and hash-aggregates —
   *    k × dim groups (≤ a few thousand), so map-side partial
   *    aggregation reduces the exchange to partitions × (k × dim) rows
   *    regardless of table size.
   * Like Spark MLlib's KMeans, the k × dim centroid state itself lives on
   * the driver between iterations (kilobytes) — that collect is the
   * algorithm's synchronization point, not a data egress. Clusters left
   * empty by an iteration keep their previous centroid.
   *
   * Returns (centroid_label: long, centroid: array<double>).
   */
  /**
   * Seeding strategy for [[kmeansFit]]:
   *  - [[KmeansInit.LowestId]] — the k lowest-id vectors become labels
   *    0..k-1 in id order. Trivially deterministic AND replayable in
   *    plain SQL, which is what lets the registered queries carry an
   *    unrolled DuckDB oracle; a known-poor spread (adjacent ids are
   *    often similar), fine when clusters are only a bucketing device
   *    (SemDeDup).
   *  - [[KmeansInit.FarthestPoint]] — deterministic k-center greedy
   *    (Gonzalez 1985) over the `sampleSize` lowest-id vectors: start
   *    at the lowest id, repeatedly add the sample vector LEAST similar
   *    (cosine rounded to `digits`, ties to the lower id) to its
   *    nearest already-chosen seed. Spread-out seeds, still
   *    bit-reproducible run-to-run — the better default when the
   *    clusters themselves are the product. Driver cost is
   *    O(sampleSize × k) similarities over an id-ordered sample
   *    (sort+limit = TakeOrdered at any corpus size).
   */
  sealed trait KmeansInit
  object KmeansInit {
    case object LowestId extends KmeansInit
    final case class FarthestPoint(sampleSize: Int = 1024,
                                   digits: Int = 6) extends KmeansInit
  }

  /** Driver-side cosine for the init greedy (zero-norm → -1: a zero
    * vector is maximally "far", so it can be picked as a seed but never
    * attracts one). */
  private def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length && i < b.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) -1.0 else dot / math.sqrt(na * nb)
  }

  /** Deterministic farthest-point seeds over an id-sorted sample —
    * see [[KmeansInit.FarthestPoint]]. */
  private def farthestPointSeeds(sample: Array[(Long, Array[Double])],
                                 k: Int, digits: Int): Seq[(Long, Seq[Double])] = {
    val n = sample.length
    val picked = Array.fill(n)(false)
    // maxSim(i) = rounded cosine of sample(i) to its NEAREST chosen seed
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val order = scala.collection.mutable.ArrayBuffer.empty[Int]
    def absorb(c: Int): Unit = {
      picked(c) = true
      var i = 0
      while (i < n) {
        if (!picked(i)) {
          val s = BigDecimal(cosineLocal(sample(i)._2, sample(c)._2) + 1e-9)
            .setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (s > maxSim(i)) maxSim(i) = s
        }
        i += 1
      }
    }
    order += 0 // sample is id-sorted: index 0 = lowest id
    absorb(0)
    while (order.size < math.min(k, n)) {
      var best = -1
      var bestSim = Double.PositiveInfinity
      var i = 0
      while (i < n) { // strict < keeps the first (lowest-id) on ties
        if (!picked(i) && maxSim(i) < bestSim) { best = i; bestSim = maxSim(i) }
        i += 1
      }
      order += best
      absorb(best)
    }
    order.zipWithIndex.map { case (si, lbl) =>
      (lbl.toLong, sample(si)._2.toSeq)
    }.toSeq
  }

  def kmeansFit(vectors: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int,
                init: KmeansInit = KmeansInit.LowestId): DataFrame = {
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    val spark = vectors.sparkSession
    val sampleN = init match {
      case KmeansInit.LowestId            => k
      case KmeansInit.FarthestPoint(n, _) =>
        require(n >= k, "FarthestPoint sampleSize must be >= k"); n
    }
    val sample = vectors
      .select(col(idCol).cast("long").as("__id"),
        transform(asDouble(col(vecCol)), x => round(x + lit(1e-9), 6)).as("__c"))
      .sort(col("__id")).limit(sampleN).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    var state: Seq[(Long, Seq[Double])] = init match {
      case KmeansInit.LowestId =>
        sample.zipWithIndex.map { case ((_, c), i) => (i.toLong, c.toSeq) }.toSeq
      case KmeansInit.FarthestPoint(_, digits) =>
        farthestPointSeeds(sample, k, digits)
    }
    for (_ <- 1 to iters) {
      val assigned = assignNearestScan(vectors, vecCol, state)
      val upd = centroids(assigned, "assigned_label", vecCol)
        .select(col("centroid_label").cast("long"),
          transform(col("centroid"), x => round(x + lit(1e-9), 6)))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      state = state.map { case (l, c) => (l, upd.getOrElse(l, c)) }
    }
    import spark.implicits._
    state.toDF("centroid_label", "centroid")
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
   * the embedding space with [[kmeansFit]], then drop every vector that
   * has a SAME-CLUSTER neighbor above `tau` cosine with a lower id (the
   * min-id survivor rule the exact-dedup family uses). Cluster scoping is
   * the operator's semantics, not an approximation bug: it bounds the
   * pairwise term to cluster sizes (tune k so n/k fits a task) in
   * exchange for missing cross-cluster twins — the paper's tradeoff.
   *
   * Scale shape: assignment is scan-only; the candidate self-join
   * shuffles each side once on the cluster id; survivors leave via a
   * distinct on drop ids + a left-anti join.
   *
   * Returns the kept vectors: every input column + `cluster`.
   */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, tau: Double,
                    scoreDigits: Int = 6,
                    init: KmeansInit = KmeansInit.LowestId): DataFrame = {
    val cents = kmeansFit(vectors, idCol, vecCol, k, iters, init)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    // persisted: feeds both sides of the pair join AND the final
    // anti-join — without the barrier the scan+assignment runs 3x
    val av = assignNearestScan(vectors, vecCol, cents)
      .withColumn("cluster", col("assigned_label"))
      .drop("assigned_label", "assign_score")
      .transform(graft.core.CacheRegistry.persistTracked)
    val a = av.select(col("cluster"), col(idCol).as("__a_id"),
      col(vecCol).as("__a_vec"))
    val b = av.select(col("cluster"), col(idCol).as("__b_id"),
      col(vecCol).as("__b_vec"))
    val drops = a.join(b, Seq("cluster"))
      .filter(col("__b_id") < col("__a_id"))
      .filter(round(cosineNative(col("__a_vec"), col("__b_vec"))
        + lit(1e-9), scoreDigits) >= tau)
      .select(col("__a_id").as(idCol)).distinct()
    av.join(drops, Seq(idCol), "left_anti")
  }

  /**
   * Prototypicality pruning (Sorscher et al. NeurIPS'22, "Beyond neural
   * scaling laws: beating power-law scaling via data pruning"): k-means
   * the embedding space, score every vector by cosine to its OWN
   * centroid, and drop the most prototypical `dropFrac` of each cluster
   * — with abundant data, the easy (most-typical) examples carry the
   * least marginal signal, so the keep-set is the hard tail. Returns
   * every vector as (id, cluster, score, kept); exactly
   * ceil(dropFrac × cluster size) rows per cluster are kept = false,
   * highest score first, id-tiebroken — deterministic, so the oracle
   * replays it with the same unrolled k-means the `ext_kmeans` row uses.
   *
   * Scale: assignment is scan-only (centroid literal); the per-cluster
   * ranking is a window partitioned by cluster — k reducers, fine while
   * a cluster's rows fit a partition (SemDeDup's operating point, and k
   * is chosen to make cells small). Beyond that, swap the exact rank
   * for a per-cluster score threshold from `approxQuantile` (one
   * aggregation + a scan-side filter) — same contract, no total order
   * per cluster.
   */
  def prototypePrune(vectors: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int, dropFrac: Double,
                     init: KmeansInit = KmeansInit.LowestId): DataFrame = {
    require(dropFrac >= 0 && dropFrac < 1, s"dropFrac=$dropFrac out of [0,1)")
    val cents = kmeansFit(vectors, idCol, vecCol, k, iters, init)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    assignNearestScan(vectors, vecCol, cents)
      .select(col(idCol), col("assigned_label").as("cluster"),
        col("assign_score").as("score"))
      .withColumn("__rn", row_number().over(
        byCluster.orderBy(desc("score"), col(idCol))))
      .withColumn("__n", count(lit(1)).over(byCluster))
      .withColumn("kept", col("__rn") > ceil(col("__n") * lit(dropFrac)))
      .drop("__rn", "__n")
  }

  /**
   * The scale path [[prototypePrune]]'s scaladoc promises: instead of
   * exactly ranking every cluster (a k-reducer window — a total order
   * per cluster), cut each cluster at an approximate score quantile
   * (`percentile_approx`, one map-side-combinable aggregation) and
   * gate with a scan-side broadcast join against the k-row threshold
   * table. No per-cluster total order anywhere, so cells of any size
   * cost one pass. The boundary is approximate AND tie-keeping: rows
   * whose score EQUALS the estimated quantile are kept, so a tie-heavy
   * cluster — the all-duplicates case, where every rounded cosine is
   * identical — prunes nothing rather than everything (a strict `<`
   * would empty it outright). Under-pruning at the boundary is
   * recoverable downstream; an emptied cluster is data loss.
   * `SimilaritySpec` measures agreement with the exact rank and pins
   * the tied-cluster behavior.
   */
  def prototypePruneApprox(vectors: DataFrame, idCol: String, vecCol: String,
                           k: Int, iters: Int, dropFrac: Double,
                           accuracy: Int = 10000,
                           init: KmeansInit = KmeansInit.LowestId): DataFrame = {
    require(dropFrac >= 0 && dropFrac < 1, s"dropFrac=$dropFrac out of [0,1)")
    val cents = kmeansFit(vectors, idCol, vecCol, k, iters, init)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    val av = assignNearestScan(vectors, vecCol, cents)
      .select(col(idCol), col("assigned_label").as("cluster"),
        col("assign_score").as("score"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val thresholds = av.groupBy("cluster")
      .agg(percentile_approx(col("score"), lit(1.0 - dropFrac), lit(accuracy))
        .as("__thr"))
    av.join(broadcast(thresholds), Seq("cluster"))
      .withColumn("kept", col("score") <= col("__thr"))
      .drop("__thr")
  }

  // ---- Product quantization (PQ-ADC) ------------------------------------

  /** Per-subspace rounded dot product of a vector slice against a chosen
    * codeword — the fp-stabilized ADC term (round(+1e-9, 6) on each
    *  subspace partial, so summation order can't diverge engines). */
  private def adcTerm(probeSlice: Column, codeword: Column): Column =
    round(aggregate(zip_with(probeSlice, codeword, (x, y) => x * y),
      lit(0d), (acc, x) => acc + x) + lit(1e-9), 6)

  /**
   * Train product-quantization codebooks (Jégou, Douze, Schmid 2011,
   * "Product Quantization for Nearest Neighbor Search"): split the
   * `dim`-dimensional space into `m` contiguous subspaces of dim/m and
   * run [[kmeansFit]] independently in each. Deterministic end to end
   * (lowest-id seeding, fp-stabilized updates), so the whole training is
   * replayable in plain SQL — the property the registered oracle uses.
   *
   * Returns m codebooks of (label, codeword) on the driver —
   * m × k × dim/m doubles, kilobytes, the broadcast-literal regime of
   * [[assignNearestScan]]. At corpus scale, train on a bounded id-ordered
   * SAMPLE (standard PQ practice: codebooks converge on ~10⁵ vectors) —
   * training cost is then independent of corpus size and the full-corpus
   * work is the one-scan [[pqEncode]].
   */
  def pqTrain(vectors: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int, k: Int, iters: Int,
              init: KmeansInit = KmeansInit.LowestId): Seq[Seq[(Long, Seq[Double])]] = {
    require(m > 0 && dim % m == 0, "m must divide dim")
    val sub = dim / m
    (0 until m).map { s =>
      kmeansFit(vectors.select(col(idCol),
          slice(col(vecCol), s * sub + 1, sub).as(vecCol)),
        idCol, vecCol, k, iters, init)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    }
  }

  /**
   * Encode every vector to m small codes — nearest codeword per subspace
   * by the same (cosine desc, lowest label) rule as
   * [[assignNearestScan]], evaluated against the codebook literals
   * inside the row projection. Scan-only: no shuffle, no join, and the
   * standing state it produces is m bytes per document (`codes:
   * array<int>`, one codebook index per subspace) — the 100 TB point of
   * PQ: a 64-dim float corpus compresses 64× into something that FITS
   * where the raw vectors never will.
   */
  def pqEncode(vectors: DataFrame, vecCol: String,
               books: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val sub = books.head.head._2.size
    val codes = books.zipWithIndex.map { case (book, s) =>
      val centLit = typedLit(book)
      val slc = slice(col(vecCol), s * sub + 1, sub)
      val best = array_max(transform(centLit, c => struct(
        coalesce(round(cosineNative(slc, c.getField("_2")) + lit(1e-9), 6),
          lit(-2d)).as("s"),
        (-c.getField("_1")).as("nl"))))
      (-best.getField("nl")).cast("int")
    }
    vectors.withColumn("codes", array(codes: _*))
  }

  /**
   * Asymmetric-distance top-k over PQ codes: score(q, x) =
   * Σ_s ⟨q_s, codeword_s(x)⟩ = ⟨q, reconstruction(x)⟩ — the query stays
   * exact, the corpus side is its quantized reconstruction. Probes are
   * broadcast (the J7 1-row-stats shape) and each term is a lookup of
   * the code into the codebook LITERAL plus a dim/m-wide dot — the ADC
   * trade: ~m lookups + dim multiplies per pair over CODES instead of a
   * full-width scan over raw floats, on standing state m bytes/doc.
   * Rank per probe by (score desc, id) — same deterministic cut as
   * [[bruteForceTopK]], and like it composable with an IVF cell gate
   * ([[ivfTopK]]) to avoid scoring the whole corpus per probe.
   */
  def pqAdcTopK(encoded: DataFrame, idCol: String,
                probes: DataFrame, probeIdCol: String, probeVecCol: String,
                books: Seq[Seq[(Long, Seq[Double])]], k: Int): DataFrame =
    encoded.crossJoin(broadcast(probes))
      .withColumn("score", round(adcScore(books, probeVecCol) + lit(1e-9), 6))
      .select(col(probeIdCol), col(idCol), col("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(probeIdCol)).orderBy(desc("score"), col(idCol))))
      .filter(col("rank") <= k)

  /** The full ADC sum over a `codes` column: Σ_s ⟨probe_s, codeword_s⟩,
    * each term fp-stabilized, summed in subspace order. */
  private def adcScore(books: Seq[Seq[(Long, Seq[Double])]],
                       probeVecCol: String): Column = {
    val sub = books.head.head._2.size
    books.zipWithIndex.map { case (book, s) =>
      // label l's codeword sits at position l+1: labels are 0..k-1 by
      // construction (lowest-id seeding keeps them dense and ordered)
      val wordsLit = typedLit(book.sortBy(_._1).map(_._2))
      adcTerm(slice(col(probeVecCol), s * sub + 1, sub),
        element_at(wordsLit, element_at(col("codes"), s + 1) + 1))
    }.reduceLeft(_ + _)
  }

  /**
   * IVF-PQ search — the composition that actually runs at 100 TB
   * (Jégou et al. 2011 §V; the FAISS `IVFPQ` index): a coarse quantizer
   * ([[ivfTopK]]'s cell assignment) prunes the corpus to `nprobe` cells
   * per probe, and within the surviving cells vectors are scored from
   * their PQ CODES ([[pqAdcTopK]]'s ADC sum) — never their raw floats.
   * The standing state the search touches is (cell, m codes) per
   * document: the per-probe work is |corpus| × nprobe / nlist rows of a
   * few BYTES each, against kilobyte codebook/centroid literals, which
   * is why this shape survives a corpus whose raw vectors don't fit
   * anywhere.
   *
   * `rerankFrom` (> k to enable) is the production two-stage posture
   * (the FAISS refine step): ADC ranks `rerankFrom` candidates per
   * probe, then ONLY those rows fetch their true vectors for an exact
   * cosine re-rank down to k — recall recovers what PQ's ranking error
   * loses at the cost of rerankFrom × probes full-width vector reads
   * (a broadcast-candidate semi-join against the corpus, never a
   * corpus-wide float scan). Measured operating curve (SCALE.md
   * `ivfpq256`, 128k vectors, m=4/k=256 books, k=10): recall 0.835
   * ADC-only → 0.980 at rerankFrom=2k → 1.000 at 4k → 1.000 at 8k,
   * with wall flat across the sweep (re-rank cost is invisible inside
   * the ADC scan). RECOMMENDED DEFAULT: rerankFrom = 4k — the first
   * point on the curve reaching full recall; 2k leaves ~2% on the
   * table, 8k fetches twice the true vectors for nothing.
   */
  def ivfPqTopK(vectors: DataFrame, idCol: String, vecCol: String,
                probes: DataFrame, probeIdCol: String, probeVecCol: String,
                books: Seq[Seq[(Long, Seq[Double])]], k: Int,
                nlist: Int = 8, nprobe: Int = 2,
                rerankFrom: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val cents = centroids(
        vectors.withColumn("__lbl", col(idCol) % nlist), "__lbl", vecCol)
      .select(col("centroid_label"),
        transform(col("centroid"), x => round(x + lit(1e-9), 6)).as("centroid"))
    val vass = assignNearestCentroid(vectors, idCol, vecCol, cents)
      .select(col(idCol), col("assigned_label").as("__cell"))
    // the scored side carries ONLY (id, cell, codes) — m bytes of
    // payload per row through the candidate join
    val enc = pqEncode(vectors, vecCol, books)
      .select(col(idCol), col("codes")).join(vass, Seq(idCol))
    val pcells = probes.crossJoin(broadcast(cents))
      .withColumn("__s",
        round(cosineNative(col(probeVecCol), col("centroid")) + lit(1e-9), 6))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(probeIdCol)).orderBy(desc("__s"), col("centroid_label"))))
      .filter(col("__rn") <= nprobe)
      .select(col(probeIdCol), col(probeVecCol),
        col("centroid_label").as("__cell"))
    val scored = enc.join(broadcast(pcells), Seq("__cell"))
      .withColumn("score", round(adcScore(books, probeVecCol) + lit(1e-9), 6))
      .select(col(probeIdCol), col(idCol), col("score"))
    val ranked = scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(probeIdCol)).orderBy(desc("score"), col(idCol))))
    if (rerankFrom <= k) ranked.filter(col("rank") <= k)
    else {
      // exact re-rank: the candidate list (probes × rerankFrom rows) is
      // broadcast against the corpus so only candidates' true vectors
      // are read; score becomes the exact cosine, rank re-cut to k
      val cand = ranked.filter(col("rank") <= rerankFrom)
        .select(col(probeIdCol), col(idCol))
      vectors.select(col(idCol), col(vecCol))
        .join(broadcast(cand), Seq(idCol))
        .join(broadcast(probes.select(col(probeIdCol), col(probeVecCol))),
          Seq(probeIdCol))
        .withColumn("score",
          round(cosineNative(col(vecCol), col(probeVecCol)) + lit(1e-9), 6))
        .select(col(probeIdCol), col(idCol), col("score"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(probeIdCol)).orderBy(desc("score"), col(idCol))))
        .filter(col("rank") <= k)
    }
  }

  /**
   * Semantic decontamination — the embedding-space twin of the 13-gram
   * [[graft.ext.Dedup.contaminationHits]] (reference analogue: the
   * benchmark-overlap hygiene step of every eval-aware corpus build).
   * Drops each corpus vector whose cosine to ANY benchmark vector in the
   * same sign-LSH bucket reaches `tau`; the bucket criterion is part of
   * the operator's contract (exactly [[semanticDedup]]'s posture): it
   * bounds candidate pairs to same-bucket rows in exchange for missing
   * cross-bucket near-hits the bit count is tuned to make improbable.
   *
   * Scale shape: the benchmark set is tiny next to the corpus (eval
   * suites are thousands of rows; the corpus is the 100 TB side), so its
   * bucketed form rides ONE broadcast anti-join carrying the
   * bucket-equality AND the cosine threshold as the join condition —
   * a single corpus scan, zero corpus-side exchanges anywhere.
   *
   * Returns the surviving corpus rows (all input columns).
   */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, vecCol: String,
                            bench: DataFrame, benchVecCol: String,
                            tau: Double, bits: Int = 4,
                            scoreDigits: Int = 6): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val bb = bench.select(col(benchVecCol).as("__b_vec"))
      .withColumn("__bucket", bucketId(col("__b_vec"), bits))
    val cb = corpus.withColumn("__bucket", bucketId(col(vecCol), bits))
    cb.join(broadcast(bb),
        cb("__bucket") === bb("__bucket") &&
          round(cosineNative(col(vecCol), col("__b_vec")) + lit(1e-9),
            scoreDigits) >= tau,
        "left_anti")
      .drop("__bucket")
  }

  /** DuckDB-mirrorable local cosine: dot / (sqrt(na) * sqrt(nb)), summed
    * left-to-right — the exact arithmetic the SQL oracles spell with
    * three `list_inner_product` calls. A zero-norm side scores 0 (for
    * MMR: a degenerate vector can't be redundant with anything, so it
    * contributes no similarity penalty — and never poisons the greedy
    * cascade with NaN). */
  private def cosineOracleForm(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length && i < b.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** round(x, digits) with SQL ROUND's half-up semantics — keeps the
    * greedy MMR comparisons bit-comparable to the unrolled oracle. */
  private def roundHalfUp(x: Double, digits: Int): Double =
    BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble

  /**
   * Sign-bit packing for binary embeddings: bits `startBit..startBit+31`
   * of the vector's sign pattern (dim value > 0 → bit set) as one long.
   * 32 bits per half keeps every intermediate below 2³², so the same
   * arithmetic is overflow-safe on any SQL engine (a 64-bit single-word
   * pack would need the sign bit, which DuckDB's checked integer ops
   * reject) — bits are disjoint so the additive fold equals the OR.
   */
  def signPackHalf(vec: Column, startBit: Int): Column =
    aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, i) =>
      acc + when(element_at(vec, i + startBit + 1) > lit(0d),
        pow(lit(2.0), i).cast("long")).otherwise(lit(0L)))

  /**
   * Binary-quantized top-k by Hamming distance (the binary-embedding /
   * binary-quantization posture modern vector stores ship as their
   * cheapest tier): 64-dim vectors collapse to two packed sign halves
   * (16 bytes/vector), distance is two XOR+popcounts — integer end to
   * end, so ranking is exactly reproducible with no rounding protocol
   * at all. Recall what it is for sign agreement; re-rank survivors
   * with [[bruteForceTopK]] when exact cosine order matters (the
   * two-stage shape of [[annTopKJl]]).
   *
   * Scale shape: encoding is scan-only; probes broadcast like every
   * top-k here; the rank window moves (probe, id, distance) triples
   * only — and the encoded table is dims/8 B per vector (16 B at 64
   * dims, 16× under the float form), so a standing binary index is the
   * cheapest standing index in this file.
   *
   * `dims` is the CONTRACT: vectors must carry at least `dims`
   * components (shorter ones fail loudly at the element access under
   * ANSI); components beyond `dims` do not participate.
   */
  def hammingTopK(vectors: DataFrame, idCol: String, vecCol: String,
                  probes: DataFrame, probeIdCol: String, probeVecCol: String,
                  k: Int, dims: Int = 64): DataFrame = {
    require(dims >= 32 && dims % 32 == 0,
      s"dims $dims must be a positive multiple of 32 (pad or truncate)")
    val halves = 0 until dims / 32
    val enc = vectors.select(col(idCol) +: halves.map(h =>
      signPackHalf(col(vecCol), h * 32).as(s"__h$h")): _*)
    val pe = probes.select(col(probeIdCol) +: halves.map(h =>
      signPackHalf(col(probeVecCol), h * 32).as(s"__p$h")): _*)
    enc.crossJoin(broadcast(pe))
      .withColumn("hamming", halves.map(h =>
          bit_count(col(s"__h$h").bitwiseXOR(col(s"__p$h"))))
        .reduce(_ + _).cast("long"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(probeIdCol)).orderBy(col("hamming"), col(idCol))))
      .filter(col("__rn") <= k)
      .select(col(probeIdCol), col(idCol), col("hamming"))
  }

  /**
   * Seed-set expansion ("more like this" corpus growth): starting from
   * a seed id set, each round adds every vector whose same-bucket
   * cosine to ANY currently-selected vector reaches `tau`; `rounds`
   * bounds the transitive growth (semantic drift control — the round a
   * doc joined IS its provenance: distance-from-seed in hops). The
   * neighborhood-based counterpart of DSIR's importance weighting for
   * domain-targeted corpus construction.
   *
   * Scale shape: the vector table is bucketed once behind a persist
   * barrier; each round joins it against the CURRENT selection's
   * vectors on the bucket id (the same candidate bound every LSH
   * operator here uses — never all-pairs), and new ids leave through a
   * distinct + anti-join. Rounds are a small constant; per-round cost
   * is the candidate join, which tracks bucket co-occupancy, not n².
   *
   * @return (idCol, round) — round 0 = seed, r = joined in round r
   */
  def seedExpand(vectors: DataFrame, idCol: String, vecCol: String,
                 seeds: DataFrame, tau: Double, rounds: Int,
                 bits: Int = 4, scoreDigits: Int = 6,
                 checkpoint: graft.core.CheckpointStrategy =
                   graft.core.CheckpointStrategy.Local): DataFrame = {
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val vb = vectors
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__bucket", bucketId(col("__v"), bits))
      .transform(graft.core.CacheRegistry.persistTracked)
    // Each round's selection is lineage-CUT (the Graphs.kCore r9
    // convention): the loop consumes `selected` twice per round (the
    // pickup semi-join and the anti-join) and unions onto it, so a
    // merely-persisted chain still TRIPLES the logical plan per round —
    // plan analysis, not data, becomes the cost at deep rounds (and the
    // old per-round release of the superseded cache cascade-invalidated
    // the dependent one anyway). The cut also makes the selection count
    // free, and growth is monotone, so an unchanged count IS the
    // fixpoint: later rounds are skipped with bit-identical output.
    var selected = checkpoint.cut(
      vb.join(seeds.select(col(idCol)), Seq(idCol), "left_semi")
        .select(col(idCol), lit(0L).as("round")))
    var selN = selected.count()
    var converged = false
    for (r <- 1 to rounds if !converged) {
      val selVecs = vb
        .join(selected.select(col(idCol)), Seq(idCol), "left_semi")
        .select(col("__bucket"), col("__v").as("__sv"))
      val added = vb.join(selVecs, Seq("__bucket"))
        .filter(round(cosineNative(col("__v"), col("__sv")) + lit(1e-9),
          scoreDigits) >= tau)
        .select(col(idCol)).distinct()
        .join(selected, Seq(idCol), "left_anti")
        .select(col(idCol), lit(r.toLong).as("round"))
      val next = checkpoint.cut(selected.unionByName(added))
      val n = next.count()
      converged = n == selN
      selected = next
      selN = n
    }
    // the result is cut, so releasing its former upstream is safe — a
    // long-lived session accretes no cache per call
    graft.core.CacheRegistry.release(vb)
    selected
  }

  /**
   * kNN label transfer (semi-supervised auto-labeling): every unlabeled
   * vector takes the MAJORITY label of its k nearest labeled neighbors
   * by cosine (rounded scores, id-tiebroken k-set — [[bruteForceTopK]]'s
   * contract), smallest label on vote ties. The standard bootstrap for
   * extending a small hand-labeled seed set across a large corpus
   * (quality tiers, topic tags, language families).
   *
   * Scale shape: the UNLABELED side is the big one and rides as the
   * probe set of a top-k scan over the labeled table — when the labeled
   * seed set is the small side (the norm), flip roles: labeled as the
   * scan, unlabeled batched as broadcast probes, exactly what this does.
   * Voting is one hash agg on (probe, label), a per-probe max-votes agg,
   * and a min-label tie resolution — integer counts, no fp in the vote,
   * and the label keeps its own type (string topics, numeric tiers —
   * any orderable column).
   *
   * @return (idCol, label, votes) — votes = how many of the k neighbors
   *         carried the winning label
   */
  def knnClassify(labeled: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, unlabeled: DataFrame,
                  probeIdCol: String, probeVecCol: String,
                  k: Int): DataFrame = {
    val topk = bruteForceTopK(labeled, idCol, vecCol,
      unlabeled, probeIdCol, probeVecCol, k)
    val votes = topk
      .join(labeled.select(col(idCol), col(labelCol).as("__lab")), Seq(idCol))
      .groupBy(col(probeIdCol), col("__lab"))
      .agg(count(lit(1)).as("__votes"))
      .transform(graft.core.CacheRegistry.persistTracked)
    val best = votes.groupBy(probeIdCol).agg(max(col("__votes")).as("__mx"))
    votes.join(best, Seq(probeIdCol))
      .filter(col("__votes") === col("__mx"))
      .groupBy(probeIdCol)
      .agg(min(col("__lab")).as("label"), max(col("__mx")).as("votes"))
      .select(col(probeIdCol), col("label"), col("votes"))
  }

  /**
   * Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR'98):
   * greedily pick k of each probe's candidates maximizing
   * `round(lambda·rel − (1−lambda)·max_{s∈S} cos(c,s) + 1e-9, digits)`,
   * lowest candidate id breaking score ties — relevance traded against
   * redundancy with the already-selected set. The standard diversity
   * pass between retrieval and a context window (RAG) or between mining
   * and a training batch (contrastive pairs).
   *
   * Input is one row per (probe, candidate): probe id, candidate id, a
   * pre-rounded relevance score, and the candidate's vector. Candidates
   * per probe are bounded by construction (a top-N retrieval feeds this),
   * so the greedy O(k·N) selection runs INSIDE one task per probe:
   * `groupByKey(probe)` is the single shuffle, and it moves only the
   * candidate rows — at 10⁹ probes the stage is embarrassingly parallel
   * and no state outgrows a task. Exactly the shape `mapGroups` exists
   * for; a join-per-step DataFrame unroll would shuffle k times instead.
   *
   * Id contract: BOTH id columns must be integral (byte/short/int/long —
   * ascending-numeric tie-break) or BOTH string (UUID-style ids —
   * ascending-lexicographic tie-break); any other pairing throws up
   * front rather than silently NULL-casting ids and collapsing probes
   * (the non-ANSI long-cast failure mode this check exists to prevent).
   *
   * Returns (probeIdCol, rank [1..k], candIdCol, mmr), ids in their
   * input type (long for the integral path).
   */
  def mmrRerank(candidates: DataFrame, probeIdCol: String, candIdCol: String,
                relCol: String, vecCol: String, k: Int, lambda: Double,
                scoreDigits: Int = 6): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda $lambda outside [0, 1] — >1 would REWARD redundancy")
    require(scoreDigits >= 0, s"scoreDigits $scoreDigits must be >= 0")
    import org.apache.spark.sql.types._
    val integral: Set[DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    val pt = candidates.schema(probeIdCol).dataType
    val ct = candidates.schema(candIdCol).dataType
    val spark = candidates.sparkSession
    import spark.implicits._
    val digits = scoreDigits
    val lam = lambda
    if (integral(pt) && integral(ct)) {
      candidates.select(col(probeIdCol).cast("long"), col(candIdCol).cast("long"),
          col(relCol).cast("double"), asDouble(col(vecCol)))
        .as[(Long, Long, Double, Seq[Double])]
        .groupByKey(_._1).flatMapGroups { (probe, it) =>
          mmrGreedy(it.map { case (_, id, rel, v) => (id, rel, v.toArray) },
            k, lam, digits).map { case (rank, id, s) => (probe, rank, id, s) }
        }.toDF(probeIdCol, "rank", candIdCol, "mmr")
    } else if (pt == StringType && ct == StringType) {
      candidates.select(col(probeIdCol), col(candIdCol),
          col(relCol).cast("double"), asDouble(col(vecCol)))
        .as[(String, String, Double, Seq[Double])]
        .groupByKey(_._1).flatMapGroups { (probe, it) =>
          mmrGreedy(it.map { case (_, id, rel, v) => (id, rel, v.toArray) },
            k, lam, digits).map { case (rank, id, s) => (probe, rank, id, s) }
        }.toDF(probeIdCol, "rank", candIdCol, "mmr")
    } else throw new IllegalArgumentException(
      s"mmrRerank ids must be both integral or both string; got " +
        s"$probeIdCol: ${pt.simpleString}, $candIdCol: ${ct.simpleString}")
  }

  /** The greedy MMR selection over one probe's candidate set, id type
    * abstracted: id-ascending scan + strict-greater acceptance = lowest-id
    * tie-break under whatever ordering K carries. Emits (rank, id, mmr). */
  private def mmrGreedy[K: Ordering](it: Iterator[(K, Double, Array[Double])],
      k: Int, lam: Double, digits: Int): Iterator[(Long, K, Double)] = {
    val cands = it.toArray.sortBy(_._1)
    val mu = 1 - lam
    val taken = scala.collection.mutable.HashSet.empty[K]
    val selected = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, K, Double)]
    val kk = math.min(k, cands.length)
    var rank = 1L
    var stuck = false
    while (rank <= kk && !stuck) {
      var bestId: Option[K] = None; var bestScore = Double.NegativeInfinity
      var bestVec: Array[Double] = null
      cands.foreach { case (id, rel, v) =>
        if (!taken(id)) {
          val maxSim =
            if (selected.isEmpty) 0d
            else selected.map(s => cosineOracleForm(v, s)).max
          val mmr = roundHalfUp(lam * rel - mu * maxSim + 1e-9, digits)
          if (mmr > bestScore) { bestScore = mmr; bestId = Some(id); bestVec = v }
        }
      }
      // every remaining candidate scored NaN (a NaN relevance input):
      // stop emitting rather than fabricate a sentinel row
      bestId match {
        case None => stuck = true
        case Some(id) =>
          taken += id
          selected += bestVec
          out += ((rank, id, bestScore))
          rank += 1
      }
    }
    out.iterator
  }
}
