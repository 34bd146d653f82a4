package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Bpe, Chunking, Classifier, Corpus, Dedup, Multimodal, Similarity, TextOps}
import ExtQueries._

/**
 * Similarity/ANN registry rows: brute-force and fused cosine top-k,
 * kNN graphs, sign-LSH buckets, IVF / PQ-ADC / IVF-PQ, k-means,
 * SemDeDup and prototypicality pruning over the embeddings fixture.
 *
 * Split from ExtQueries by family (zero behavior change) — shared
 * fixture builders and DuckDB oracle fragments stay in [[ExtQueries]].
 */
object ExtSimilarityQueries {

  /** DuckDB CTE chain shared by the ext_sim_ivf_pq* oracles: coarse
    * quantizer (vec_id%8-seeded cells), per-probe nprobe=2 cell pick,
    * four per-subspace k=8/iters=1 kmeans replays, ADC-scored
    * candidates, ranked as `rk(probe_id, vec_id, score, rank)`.
    * `v(vec_id, e)` stays visible to callers for exact re-ranks. */
  private def ivfPqCtes: String = s"""v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      dimvals AS (SELECT vec_id % 8 AS lbl, generate_subscripts(e, 1) AS dim,
          unnest(e) AS val FROM v),
      cent AS (SELECT lbl, dim, round(avg(val) + 1e-9, 6) AS c
        FROM dimvals GROUP BY 1, 2),
      centv AS (SELECT lbl, list(c ORDER BY dim) AS cv FROM cent GROUP BY lbl),
      vscore AS (SELECT v.vec_id, c.lbl,
          round(list_inner_product(v.e, c.cv) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(c.cv, c.cv)), 0) + 1e-9, 6) AS s
        FROM v CROSS JOIN centv c),
      vass AS (SELECT vec_id, lbl FROM (SELECT *, row_number() OVER
          (PARTITION BY vec_id ORDER BY s DESC, lbl) AS rn FROM vscore)
        WHERE rn = 1),
      p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id % 100 = 0),
      pscore AS (SELECT p.probe_id, c.lbl,
          round(list_inner_product(p.pe, c.cv) /
            nullif(sqrt(list_inner_product(p.pe, p.pe))
                 * sqrt(list_inner_product(c.cv, c.cv)), 0) + 1e-9, 6) AS s
        FROM p CROSS JOIN centv c),
      pcells AS (SELECT probe_id, lbl FROM (SELECT *, row_number() OVER
          (PARTITION BY probe_id ORDER BY s DESC, lbl) AS rn FROM pscore)
        WHERE rn <= 2),
      sv0 AS (SELECT vec_id, e[1:16] AS e FROM v),
      sv1 AS (SELECT vec_id, e[17:32] AS e FROM v),
      sv2 AS (SELECT vec_id, e[33:48] AS e FROM v),
      sv3 AS (SELECT vec_id, e[49:64] AS e FROM v),
      ${duckKmeans(k = 8, iters = 1, src = "sv0", p = "s0")},
      ${duckKmeans(k = 8, iters = 1, src = "sv1", p = "s1")},
      ${duckKmeans(k = 8, iters = 1, src = "sv2", p = "s2")},
      ${duckKmeans(k = 8, iters = 1, src = "sv3", p = "s3")},
      cand AS (SELECT pc.probe_id, va.vec_id
        FROM pcells pc JOIN vass va ON va.lbl = pc.lbl),
      sc AS (SELECT c.probe_id, c.vec_id,
          round(
            round(list_inner_product(pr.e[1:16],  b0.cv) + 1e-9, 6)
          + round(list_inner_product(pr.e[17:32], b1.cv) + 1e-9, 6)
          + round(list_inner_product(pr.e[33:48], b2.cv) + 1e-9, 6)
          + round(list_inner_product(pr.e[49:64], b3.cv) + 1e-9, 6)
          + 1e-9, 6) AS score
        FROM cand c
        JOIN v pr ON pr.vec_id = c.probe_id
        JOIN s0af ON s0af.vec_id = c.vec_id
        JOIN s1af ON s1af.vec_id = c.vec_id
        JOIN s2af ON s2af.vec_id = c.vec_id
        JOIN s3af ON s3af.vec_id = c.vec_id
        JOIN s0c1 b0 ON b0.lbl = s0af.lbl
        JOIN s1c1 b1 ON b1.lbl = s1af.lbl
        JOIN s2c1 b2 ON b2.lbl = s2af.lbl
        JOIN s3c1 b3 ON b3.lbl = s3af.lbl),
      rk AS (SELECT probe_id, vec_id, score, row_number() OVER
          (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank FROM sc)"""

  def defs: Seq[QueryDef] = Seq(


    // ---- Similarity search --------------------------------------------

    // Embedding-cosine near-dup: perturbed copies must pair with their
    // originals through the LSH bucket (the bucket criterion is part of
    // the operator's semantics — the oracle replicates it).
    QueryDef("ext_embed_neardup", (s, dir) => {
      val vecs = Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
      val dups = vecs.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          concat(array(element_at(col("e"), 1) + lit(0.01)),
            slice(col("e"), 2, 63)).as("e"))
      val all = vecs.unionByName(dups)
        .withColumn("bucket", Similarity.bucketId(col("e"), 4))
      graft.functions.GraftFunctions.register(s)
      val a = all.select(col("bucket"), col("vec_id").as("id_a"), col("e").as("ea"))
      val b = all.select(col("bucket"), col("vec_id").as("id_b"), col("e").as("eb"))
      a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
        .withColumn("score",
          round(Similarity.cosineNative(col("ea"), col("eb")) + lit(1e-9), 6))
        .filter(col("score") >= 0.99)
        .select("id_a", "id_b", "score")
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      dups AS (SELECT vec_id + 10000 AS vec_id,
          list_prepend(e[1] + 0.01, e[2:64]) AS e FROM v WHERE vec_id % 10 = 0),
      allv AS (SELECT vec_id, e,
          (CASE WHEN e[1] > e[33] THEN 1 ELSE 0 END)
          + (CASE WHEN e[2] > e[34] THEN 2 ELSE 0 END)
          + (CASE WHEN e[3] > e[35] THEN 4 ELSE 0 END)
          + (CASE WHEN e[4] > e[36] THEN 8 ELSE 0 END) AS bucket
        FROM (SELECT vec_id, e FROM v UNION ALL SELECT vec_id, e FROM dups)),
      pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_inner_product(a.e, b.e) /
            nullif(sqrt(list_inner_product(a.e, a.e))
                 * sqrt(list_inner_product(b.e, b.e)), 0) + 1e-9, 6) AS score
        FROM allv a JOIN allv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, score FROM pairs WHERE score >= 0.99""")),


    // Brute-force exact cosine top-5 per probe (probe set broadcast).
    QueryDef("ext_sim_topk_cosine", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 5)
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id % 100 = 0),
      scored AS (SELECT p.probe_id, v.vec_id,
          round(list_inner_product(v.e, p.pe) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
        FROM v CROSS JOIN p),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY score DESC, vec_id) AS rn FROM scored)
      SELECT probe_id, vec_id, score FROM ranked WHERE rn <= 5""")),


    // Exact kNN graph over the embedding table (k=3, self excluded) —
    // the clustering/semantic-dedup building block; at corpus scale the
    // same scoring runs within LSH/IVF candidate blocks. Plans as the
    // fused CosineTopK operator (one pass, bounded buffers — measured
    // ~9× over the nested-loop + rank-window form at the fixture).
    QueryDef("ext_knn_graph", (s, dir) =>
      Similarity.knnGraph(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 3),
      Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        scored AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
            round(list_inner_product(b.e, a.e) /
              nullif(sqrt(list_inner_product(b.e, b.e))
                   * sqrt(list_inner_product(a.e, a.e)), 0) + 1e-9, 6) AS score
          FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY src_id
            ORDER BY score DESC, dst_id) AS rn FROM scored)
        SELECT src_id, dst_id, score FROM ranked WHERE rn <= 3""")),


    // Approximate kNN graph — the >10⁵-vector path ext_knn_graph defers
    // to: candidates from a multi-table sign-LSH SELF-JOIN (8 tables,
    // hamming-1 multiprobe; an equi-join on (table, bucket) — no
    // whole-table probe broadcast), exact cosine within candidates.
    // `bits` must grow with n for the pruning to bite: at the sf0.1
    // fixture (5k vectors) bits=4 leaves ~95% of all pairs as
    // candidates (LSH cost with no pruning), so this entry registers
    // the n-appropriate bits=8 (~¼ of pairs); the recall/bits tradeoff
    // is measured in SimilaritySpec. Oracle recomputes every per-table
    // bucket and joins on "some table's signatures differ in <= 1
    // bit" — exactly the Spark candidate set — so the approximate
    // graph hash-matches.
    QueryDef("ext_knn_graph_approx", (s, dir) =>
      Similarity.knnGraphApprox(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 3, bits = 8, tables = 8,
        multiprobeHamming = 1),
      Some {
        def bucketSql(alias: String, t: Int): String = (0 until 8).map { j =>
          val a = (5 * t + j) % 32
          val b = 32 + ((3 * t + j) % 32)
          s"(CASE WHEN $alias.embedding[${a + 1}] > $alias.embedding[${b + 1}] THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        val buckets = (0 until 8).map(t => s"${bucketSql("embeddings", t)} AS b$t")
          .mkString(", ")
        val collide = (0 until 8).map(t => s"bit_count(xor(a.b$t, b.b$t)) <= 1")
          .mkString(" OR ")
        s"""WITH v AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e, $buckets
            FROM embeddings),
          scored AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
              round(list_inner_product(b.e, a.e) /
                nullif(sqrt(list_inner_product(b.e, b.e))
                     * sqrt(list_inner_product(a.e, a.e)), 0) + 1e-9, 6) AS score
            FROM v a JOIN v b ON a.vec_id <> b.vec_id AND ($collide)),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY src_id
              ORDER BY score DESC, dst_id) AS rn FROM scored)
          SELECT src_id, dst_id, score FROM ranked WHERE rn <= 3"""
      }),


    // Fused whole-operator top-k: the declarative ext_sim_topk_cosine
    // with the SAME oracle SQL, kept as the row whose plan pins the
    // FuseCosineTopK rewrite (CosineTopKExec: one pass + bounded
    // buffers, no Exchange/Window — PlanSpec).
    QueryDef("ext_sim_topk_fused", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 5)
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id % 100 = 0),
      scored AS (SELECT p.probe_id, v.vec_id,
          round(list_inner_product(v.e, p.pe) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
        FROM v CROSS JOIN p),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY score DESC, vec_id) AS rn FROM scored)
      SELECT probe_id, vec_id, score FROM ranked WHERE rn <= 5""")),


    // Int8 scalar quantization of embeddings (index compression):
    // per-vector symmetric scale, exploded (id, dim, q) layout. Pure
    // projection + generator — zero shuffle.
    QueryDef("ext_embed_quantize", (s, dir) =>
      Similarity.int8Quantize(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding"),
      Some("""WITH t AS (SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
            AS scale,
          embedding FROM embeddings),
        u AS (SELECT vec_id, scale,
          generate_subscripts(embedding, 1) - 1 AS dim,
          unnest(embedding) AS x FROM t)
      SELECT vec_id, CAST(dim AS BIGINT) AS dim,
        CAST(CASE WHEN scale = 0 THEN 0
                  ELSE round(CAST(x AS DOUBLE) / scale + 1e-9) END AS BIGINT) AS q
      FROM u""")),


    // Johnson-Lindenstrauss projection 64 -> 16 dims through the
    // md5-derived +-1/4 sign matrix: the pre-ANN dimensionality
    // reduction, scan-only. The oracle rebuilds the SAME matrix from
    // md5 and projects relationally. Emitted exploded as
    // (vec_id, j, pj) scalar rows — the same harness-sortable layout
    // as ext_embed_quantize (array-valued result columns can't be
    // sorted by the comparison harness).
    QueryDef("ext_embed_jl_project", (s, dir) =>
      Similarity.jlProject(
          Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", dim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("__j0", "pj")))
        .select(col("vec_id"), (col("__j0") + 1).cast("long").as("j"), col("pj")),
      Some("""WITH m AS (SELECT j, i,
          CASE WHEN substr(md5('jl_' || i || '_' || j), 1, 1) < '8'
               THEN 0.25 ELSE -0.25 END AS s
        FROM range(1, 17) t1(j), range(1, 65) t2(i)),
      v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          unnest(embedding) AS x FROM embeddings)
      SELECT vec_id, CAST(j AS BIGINT) AS j,
          round(sum(CAST(x AS DOUBLE) * s) + 1e-9, 6) AS pj
        FROM v JOIN m USING (i) GROUP BY 1, 2""")),


    // Top principal component of the embedding space (covariance trick
    // + 2 power-iteration rounds): two distributed passes — fixed-point
    // means, then dim² exact-integer gram cells collapsed map-side —
    // and a corpus-independent driver iteration whose every step
    // rounds(+1e-9, 6), so the oracle replays the identical trajectory
    // relationally (Similarity.pcaTopComponent scaladoc).
    QueryDef("ext_embed_pca_top", (s, dir) =>
      Similarity.pcaTopComponent(
        Tables.embeddings(s, dir).select(col("embedding")),
        "embedding", dim = 64, iters = 2),
      Some("""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      mu AS (SELECT i, round(CAST(sum(CAST(round(x * 1000000.0) AS BIGINT))
            AS DOUBLE) / (CAST(n.n AS DOUBLE) * 1000000.0) + 1e-9, 6) AS m
        FROM ex CROSS JOIN n GROUP BY i, n.n),
      cent AS (SELECT vec_id, ex.i,
          CAST(round((x - m) * 1000000.0 + 1e-9) AS BIGINT) AS c
        FROM ex JOIN mu ON mu.i = ex.i),
      gram AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.c * b.c) AS BIGINT) AS g
        FROM cent a JOIN cent b USING (vec_id) GROUP BY 1, 2),
      cov AS (SELECT i, j, round(CAST(g AS DOUBLE)
            / (CAST(n.n AS DOUBLE) * 1e12) + 1e-9, 6) AS cv
        FROM gram CROSS JOIN n),
      v0 AS (SELECT i, 0.125 AS vv FROM range(1, 65) t(i)),
      w1 AS (SELECT cov.i, round(sum(cv * vv) + 1e-9, 6) AS w
        FROM cov JOIN v0 ON v0.i = cov.j GROUP BY 1),
      n1 AS (SELECT sum(w * w) AS ns FROM w1),
      v1 AS (SELECT i, round(w / sqrt(ns) + 1e-9, 6) AS vv
        FROM w1 CROSS JOIN n1),
      w2 AS (SELECT cov.i, round(sum(cv * vv) + 1e-9, 6) AS w
        FROM cov JOIN v1 ON v1.i = cov.j GROUP BY 1),
      n2 AS (SELECT sum(w * w) AS ns FROM w2)
      SELECT CAST(w2.i AS BIGINT) AS j,
        round(w / sqrt(ns) + 1e-9, 6) AS loading,
        round(sqrt(ns) + 1e-9, 6) AS eigval
      FROM w2 CROSS JOIN n2""")),


    // PC1 outlier scores: fit driver-side (the bounded-state contract —
    // 64 means + 64 loadings), score SCAN-ONLY (means and loadings ride
    // the projection as literals; per-row centered dot product, no
    // join, no shuffle before the bounded top-20) — the same
    // fit-then-literal-scan pattern as k-means assignment. Top-20 by
    // |score| surfaces the vectors most extreme along the dominant
    // variance axis.
    QueryDef("ext_embed_pca_scores", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val mu = Similarity.dimensionMeans(vecs, "embedding", 64)
      val load = Similarity.pcaTopComponent(
          vecs.select(col("embedding")), "embedding", dim = 64, iters = 2)
        .orderBy("j").collect().map(_.getDouble(1))
      val muL = typedLit(mu.toSeq)
      val ldL = typedLit(load.toSeq)
      vecs.select(col("vec_id"),
          round(aggregate(
            zip_with(
              zip_with(col("embedding"), muL, (x, m) => x.cast("double") - m),
              ldL, (c, l) => c * l),
            lit(0.0d), (a, b) => a + b) + lit(1e-9), 6).as("pc1_score"))
        .withColumn("__a", abs(col("pc1_score")))
        .orderBy(desc("__a"), col("vec_id")).limit(20)
        .select("vec_id", "pc1_score")
    }, Some("""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      mu AS (SELECT i, round(CAST(sum(CAST(round(x * 1000000.0) AS BIGINT))
            AS DOUBLE) / (CAST(n.n AS DOUBLE) * 1000000.0) + 1e-9, 6) AS m
        FROM ex CROSS JOIN n GROUP BY i, n.n),
      cent AS (SELECT vec_id, ex.i,
          CAST(round((x - m) * 1000000.0 + 1e-9) AS BIGINT) AS c
        FROM ex JOIN mu ON mu.i = ex.i),
      gram AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.c * b.c) AS BIGINT) AS g
        FROM cent a JOIN cent b USING (vec_id) GROUP BY 1, 2),
      cov AS (SELECT i, j, round(CAST(g AS DOUBLE)
            / (CAST(n.n AS DOUBLE) * 1e12) + 1e-9, 6) AS cv
        FROM gram CROSS JOIN n),
      v0 AS (SELECT i, 0.125 AS vv FROM range(1, 65) t(i)),
      w1 AS (SELECT cov.i, round(sum(cv * vv) + 1e-9, 6) AS w
        FROM cov JOIN v0 ON v0.i = cov.j GROUP BY 1),
      n1 AS (SELECT sum(w * w) AS ns FROM w1),
      v1 AS (SELECT i, round(w / sqrt(ns) + 1e-9, 6) AS vv
        FROM w1 CROSS JOIN n1),
      w2 AS (SELECT cov.i, round(sum(cv * vv) + 1e-9, 6) AS w
        FROM cov JOIN v1 ON v1.i = cov.j GROUP BY 1),
      n2 AS (SELECT sum(w * w) AS ns FROM w2),
      l AS (SELECT i, round(w / sqrt(ns) + 1e-9, 6) AS vv
        FROM w2 CROSS JOIN n2),
      sc AS (SELECT ex.vec_id,
          round(sum((ex.x - mu.m) * l.vv) + 1e-9, 6) AS pc1_score
        FROM ex JOIN mu ON mu.i = ex.i JOIN l ON l.i = ex.i
        GROUP BY 1)
      SELECT vec_id, pc1_score FROM sc
      ORDER BY abs(pc1_score) DESC, vec_id LIMIT 20""")),


    // Two-stage retrieval with JL as the coarse quantizer: top-60
    // candidates by cosine in the 32-dim projected space, exact top-5
    // re-rank in the original 64-dim space over candidates only — the
    // coarse-then-exact stack (recall 0.85 at this operating point,
    // pinned in SimilaritySpec). Oracle recomputes both stages, matrix
    // included.
    QueryDef("ext_sim_ann_jl", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id").isin(100L, 200L, 300L, 400L))
        .select(((col("vec_id") / lit(100)).cast("long") - lit(1)).as("query_id"),
          col("embedding").as("probe_vec"))
      Similarity.annTopKJl(vecs, "vec_id", "embedding",
          probes, "query_id", "probe_vec",
          dim = 64, outDim = 32, candidates = 60, k = 5)
        .withColumnRenamed("vec_id", "doc_id")
    }, Some("""WITH m AS (SELECT j, i,
          CASE WHEN substr(md5('jl_' || i || '_' || j), 1, 1) < '8'
               THEN 1 / sqrt(32) ELSE -1 / sqrt(32) END AS s
        FROM range(1, 33) t1(j), range(1, 65) t2(i)),
      vu AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          unnest(embedding) AS x FROM embeddings),
      p AS (SELECT vec_id, j,
          round(sum(CAST(x AS DOUBLE) * s) + 1e-9, 6) AS pj
        FROM vu JOIN m USING (i) GROUP BY 1, 2),
      pv AS (SELECT vec_id, list(pj ORDER BY j) AS proj FROM p GROUP BY vec_id),
      pp AS (SELECT vec_id // 100 - 1 AS query_id, proj AS pproj FROM pv
        WHERE vec_id IN (100, 200, 300, 400)),
      cscored AS (SELECT pp.query_id, pv.vec_id AS doc_id,
          round(list_inner_product(pv.proj, pp.pproj) /
            nullif(sqrt(list_inner_product(pv.proj, pv.proj))
                 * sqrt(list_inner_product(pp.pproj, pp.pproj)), 0)
            + 1e-9, 6) AS cs
        FROM pv CROSS JOIN pp),
      cand AS (SELECT query_id, doc_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cs DESC, doc_id) AS r FROM cscored) WHERE r <= 60),
      ve AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      pe AS (SELECT vec_id // 100 - 1 AS query_id, e AS pev FROM ve
        WHERE vec_id IN (100, 200, 300, 400)),
      rescored AS (SELECT c.query_id, c.doc_id,
          round(list_inner_product(v2.e, pe.pev) /
            nullif(sqrt(list_inner_product(v2.e, v2.e))
                 * sqrt(list_inner_product(pe.pev, pe.pev)), 0)
            + 1e-9, 6) AS score
        FROM cand c JOIN ve v2 ON c.doc_id = v2.vec_id
        JOIN pe ON c.query_id = pe.query_id)
      SELECT query_id, doc_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id) AS r FROM rescored) WHERE r <= 5""")),


    // Dimension-wise mean pooling per label (class prototypes): one
    // shuffle on (label, dim); fixed-point sum makes the mean independent
    // of summation order (reproducible across partitionings and engines).
    QueryDef("ext_embed_meanpool", (s, dir) =>
      Similarity.meanPoolByKey(
        Tables.embeddings(s, dir).select(col("label"), col("embedding")),
        "label", "embedding"),
      Some("""WITH u AS (SELECT label,
          generate_subscripts(embedding, 1) - 1 AS dim,
          unnest(embedding) AS x FROM embeddings)
      SELECT CAST(label AS BIGINT) AS pool_key, CAST(dim AS BIGINT) AS dim,
        round(sum(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
          / (count(*) * 1000000.0) + 1e-9, 6) AS mean_val
      FROM u GROUP BY 1, 2""")),


    // LSH-bucketed ANN top-3: sparse sign-projection bucket (4 bits),
    // candidates restricted to the probe's bucket — the scale path.
    QueryDef("ext_sim_ann_bucket", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Similarity.annTopK(vecs, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 3, bits = 4)
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
          (CASE WHEN embedding[1] > embedding[33] THEN 1 ELSE 0 END)
          + (CASE WHEN embedding[2] > embedding[34] THEN 2 ELSE 0 END)
          + (CASE WHEN embedding[3] > embedding[35] THEN 4 ELSE 0 END)
          + (CASE WHEN embedding[4] > embedding[36] THEN 8 ELSE 0 END) AS bucket
        FROM embeddings),
      p AS (SELECT vec_id AS probe_id, e AS pe, bucket FROM v WHERE vec_id % 100 = 0),
      scored AS (SELECT p.probe_id, v.vec_id,
          round(list_inner_product(v.e, p.pe) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
        FROM v JOIN p ON v.bucket = p.bucket),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY score DESC, vec_id) AS rn FROM scored)
      SELECT probe_id, vec_id, score FROM ranked WHERE rn <= 3""")),


    // PERSISTED ANN index: the banded vector table is materialized ONCE
    // as a warehouse table bucketed+sorted on the LSH bucket (the
    // build-once/query-many shape — at corpus scale the index build is a
    // write-side artifact and every later probe batch joins against it
    // with the bucket shuffle already pre-paid by the table layout).
    // Results must be identical to the ad-hoc ext_sim_ann_bucket — same
    // oracle SQL, and the query side reads ONLY the saved table.
    QueryDef("ext_sim_ann_persisted", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val index = graft.core.Materialize.bucketTable(s, "graft_ann_index",
        vecs.withColumn("bucket", Similarity.bucketId(col("embedding"), 4)),
        buckets = 8, bucketCols = Seq("bucket"))
      // probes come from the SAVED table too (vectors, buckets and all) —
      // the query side genuinely touches nothing but the index
      val probes = index.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
          col("bucket"))
      index.join(broadcast(probes), Seq("bucket"))
        .withColumn("score",
          round(Similarity.cosineNative(col("embedding"), col("probe_vec"))
            + lit(1e-9), 6))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("probe_id")).orderBy(desc("score"), col("vec_id"))))
        .filter(col("__rn") <= 3)
        .select(col("probe_id"), col("vec_id"), col("score"))
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
          (CASE WHEN embedding[1] > embedding[33] THEN 1 ELSE 0 END)
          + (CASE WHEN embedding[2] > embedding[34] THEN 2 ELSE 0 END)
          + (CASE WHEN embedding[3] > embedding[35] THEN 4 ELSE 0 END)
          + (CASE WHEN embedding[4] > embedding[36] THEN 8 ELSE 0 END) AS bucket
        FROM embeddings),
      p AS (SELECT vec_id AS probe_id, e AS pe, bucket FROM v WHERE vec_id % 100 = 0),
      scored AS (SELECT p.probe_id, v.vec_id,
          round(list_inner_product(v.e, p.pe) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
        FROM v JOIN p ON v.bucket = p.bucket),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY score DESC, vec_id) AS rn FROM scored)
      SELECT probe_id, vec_id, score FROM ranked WHERE rn <= 3""")),


    // Multi-table multiprobe ANN (the production recall setting: bits=4,
    // 8 tables, hamming-1 multiprobe — measured recall 0.99 on the
    // fixture). Oracle recomputes every per-table bucket and joins on
    // "some table collides within hamming 1", which is exactly the
    // multiprobe candidate set.
    QueryDef("ext_sim_ann_multitable", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Similarity.annTopKMultiTable(vecs, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 3, bits = 4, tables = 8,
        multiprobeHamming = 1)
    }, Some {
      def bucketSql(t: Int): String = (0 until 4).map { j =>
        val a = (5 * t + j) % 32
        val b = 32 + ((3 * t + j) % 32)
        s"(CASE WHEN embedding[${a + 1}] > embedding[${b + 1}] THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      val buckets = (0 until 8).map(t => s"${bucketSql(t)} AS b$t").mkString(", ")
      val collide = (0 until 8).map(t => s"bit_count(xor(v.b$t, p.b$t)) <= 1")
        .mkString(" OR ")
      s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e, $buckets
          FROM embeddings),
        p AS (SELECT vec_id AS probe_id, e AS pe,
            ${(0 until 8).map(t => s"b$t").mkString(", ")}
          FROM v WHERE vec_id % 100 = 0),
        scored AS (SELECT p.probe_id, v.vec_id,
            round(list_inner_product(v.e, p.pe) /
              nullif(sqrt(list_inner_product(v.e, v.e))
                   * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
          FROM v JOIN p ON ($collide)),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY score DESC, vec_id) AS rn FROM scored)
        SELECT probe_id, vec_id, score FROM ranked WHERE rn <= 3"""
    }),


    // IVF coarse-quantizer ANN: one-pass centroids (hash-partition init,
    // fp-stabilized), vectors assigned to their nearest cell, probes
    // scored against their nprobe=2 of nlist=8 nearest cells only. The
    // oracle replicates the full IVF candidate semantics — centroid
    // averages, cell assignment, probe cells, and final top-k.
    QueryDef("ext_sim_ivf", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Similarity.ivfTopK(vecs, "vec_id", "embedding",
        probes, "probe_id", "probe_vec", k = 3, nlist = 8, nprobe = 2)
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      dimvals AS (SELECT vec_id % 8 AS lbl, generate_subscripts(e, 1) AS dim,
          unnest(e) AS val FROM v),
      cent AS (SELECT lbl, dim, round(avg(val) + 1e-9, 6) AS c
        FROM dimvals GROUP BY 1, 2),
      centv AS (SELECT lbl, list(c ORDER BY dim) AS cv FROM cent GROUP BY lbl),
      vscore AS (SELECT v.vec_id, c.lbl,
          round(list_inner_product(v.e, c.cv) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(c.cv, c.cv)), 0) + 1e-9, 6) AS s
        FROM v CROSS JOIN centv c),
      vass AS (SELECT vec_id, lbl FROM (SELECT *, row_number() OVER
          (PARTITION BY vec_id ORDER BY s DESC, lbl) AS rn FROM vscore)
        WHERE rn = 1),
      p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id % 100 = 0),
      pscore AS (SELECT p.probe_id, c.lbl,
          round(list_inner_product(p.pe, c.cv) /
            nullif(sqrt(list_inner_product(p.pe, p.pe))
                 * sqrt(list_inner_product(c.cv, c.cv)), 0) + 1e-9, 6) AS s
        FROM p CROSS JOIN centv c),
      pcells AS (SELECT probe_id, lbl FROM (SELECT *, row_number() OVER
          (PARTITION BY probe_id ORDER BY s DESC, lbl) AS rn FROM pscore)
        WHERE rn <= 2),
      cand AS (SELECT pc.probe_id, va.vec_id
        FROM pcells pc JOIN vass va ON va.lbl = pc.lbl),
      scored AS (SELECT c.probe_id, c.vec_id,
          round(list_inner_product(v.e, p.pe) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
        FROM cand c JOIN v ON v.vec_id = c.vec_id
        JOIN p ON p.probe_id = c.probe_id),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY score DESC, vec_id) AS rn FROM scored)
      SELECT probe_id, vec_id, score FROM ranked WHERE rn <= 3""")),


    // Product-quantization ADC top-k (Jégou et al. 2011) — the
    // compressed-domain end of the ANN family: 4 per-subspace codebooks
    // trained with the deterministic k-means, every vector encoded to 4
    // codes (scan-only), probes scored against RECONSTRUCTIONS via
    // per-subspace codeword dots. The oracle replays the entire thing —
    // four unrolled kmeans (one per subspace slice), encode, ADC sum —
    // in one statement, so the correctness check covers training,
    // encoding, and scoring end to end.
    QueryDef("ext_sim_pq_adc", (s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
      val books = Similarity.pqTrain(base, "vec_id", "e",
        dim = 64, m = 4, k = 8, iters = 1)
      val probes = base.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("e").as("pe"))
      Similarity.pqAdcTopK(Similarity.pqEncode(base, "e", books), "vec_id",
          probes, "probe_id", "pe", books, k = 5)
        .select(col("probe_id"), col("vec_id"), col("score"),
          col("rank").cast("long").as("rank"))
    }, Some(s"""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      sv0 AS (SELECT vec_id, e[1:16] AS e FROM v),
      sv1 AS (SELECT vec_id, e[17:32] AS e FROM v),
      sv2 AS (SELECT vec_id, e[33:48] AS e FROM v),
      sv3 AS (SELECT vec_id, e[49:64] AS e FROM v),
      ${duckKmeans(k = 8, iters = 1, src = "sv0", p = "s0")},
      ${duckKmeans(k = 8, iters = 1, src = "sv1", p = "s1")},
      ${duckKmeans(k = 8, iters = 1, src = "sv2", p = "s2")},
      ${duckKmeans(k = 8, iters = 1, src = "sv3", p = "s3")},
      sc AS (SELECT p.vec_id AS probe_id, s0af.vec_id,
          round(
            round(list_inner_product(p.e[1:16],  b0.cv) + 1e-9, 6)
          + round(list_inner_product(p.e[17:32], b1.cv) + 1e-9, 6)
          + round(list_inner_product(p.e[33:48], b2.cv) + 1e-9, 6)
          + round(list_inner_product(p.e[49:64], b3.cv) + 1e-9, 6)
          + 1e-9, 6) AS score
        FROM v p, s0af, s1af, s2af, s3af,
             s0c1 b0, s1c1 b1, s2c1 b2, s3c1 b3
        WHERE p.vec_id % 100 = 0
          AND s1af.vec_id = s0af.vec_id AND s2af.vec_id = s0af.vec_id
          AND s3af.vec_id = s0af.vec_id
          AND b0.lbl = s0af.lbl AND b1.lbl = s1af.lbl
          AND b2.lbl = s2af.lbl AND b3.lbl = s3af.lbl),
      rk AS (SELECT probe_id, vec_id, score, row_number() OVER
          (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank FROM sc)
      SELECT probe_id, vec_id, score, CAST(rank AS BIGINT) AS rank
      FROM rk WHERE rank <= 5""")),


    // IVF-PQ — the composition that runs at 100 TB (FAISS IVFPQ): the
    // coarse quantizer prunes to nprobe cells per probe, and candidates
    // are scored from their m-byte PQ codes, never their raw floats.
    // Oracle = ext_sim_ivf's cell CTEs + ext_sim_pq_adc's four kmeans
    // replays, composed: candidates from the probed cells, ADC-scored.
    QueryDef("ext_sim_ivf_pq", (s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
      val books = Similarity.pqTrain(base, "vec_id", "e",
        dim = 64, m = 4, k = 8, iters = 1)
      val probes = base.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("e").as("pe"))
      Similarity.ivfPqTopK(base, "vec_id", "e", probes, "probe_id", "pe",
          books, k = 5, nlist = 8, nprobe = 2)
        .select(col("probe_id"), col("vec_id"), col("score"),
          col("rank").cast("long").as("rank"))
    }, Some(s"""WITH $ivfPqCtes
      SELECT probe_id, vec_id, score, CAST(rank AS BIGINT) AS rank
      FROM rk WHERE rank <= 5""")),


    // IVF-PQ + exact re-rank — the two-stage production point (the
    // FAISS refine step): ADC ranks rerankFrom=12 candidates per probe,
    // then only those fetch true vectors for an exact-cosine re-rank to
    // k=5. Oracle = the same CTE chain, cut at 12, re-scored with the
    // true-vector inner product. Pins that re-ranked scores are exact
    // cosines (not ADC reconstructions) and that the candidate cut
    // happens on ADC order.
    QueryDef("ext_sim_ivf_pq_rerank", (s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
      val books = Similarity.pqTrain(base, "vec_id", "e",
        dim = 64, m = 4, k = 8, iters = 1)
      val probes = base.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("e").as("pe"))
      Similarity.ivfPqTopK(base, "vec_id", "e", probes, "probe_id", "pe",
          books, k = 5, nlist = 8, nprobe = 2, rerankFrom = 12)
        .select(col("probe_id"), col("vec_id"), col("score"),
          col("rank").cast("long").as("rank"))
    }, Some(s"""WITH $ivfPqCtes,
      cut AS (SELECT probe_id, vec_id FROM rk WHERE rank <= 12),
      ex AS (SELECT c.probe_id, c.vec_id,
          round(list_inner_product(vv.e, pv.e) /
            nullif(sqrt(list_inner_product(vv.e, vv.e))
                 * sqrt(list_inner_product(pv.e, pv.e)), 0) + 1e-9, 6) AS score
        FROM cut c
        JOIN v pv ON pv.vec_id = c.probe_id
        JOIN v vv ON vv.vec_id = c.vec_id),
      rk2 AS (SELECT probe_id, vec_id, score, row_number() OVER
          (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank FROM ex)
      SELECT probe_id, vec_id, score, CAST(rank AS BIGINT) AS rank
      FROM rk2 WHERE rank <= 5""")),


    // Hard-negative mining for contrastive/retrieval training: per probe,
    // the top-3 most-similar vectors whose LABEL DIFFERS (the in-batch
    // lookalikes a trainer wants as negatives). Same broadcast-probe
    // scan shape as brute-force top-k with the label-mismatch predicate
    // applied BEFORE scoring; the ANN bucket families drop in unchanged
    // when the corpus outgrows brute force.
    QueryDef("ext_hard_negatives", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val vecs = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
      val probes = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
          col("label").as("probe_label"))
      vecs.crossJoin(broadcast(probes))
        .filter(col("label") =!= col("probe_label"))
        .withColumn("score",
          round(Similarity.cosineNative(col("embedding"), col("probe_vec"))
            + lit(1e-9), 6))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("probe_id")).orderBy(desc("score"), col("vec_id"))))
        .filter(col("__rn") <= 3)
        .select(col("probe_id"), col("vec_id"), col("score"),
          col("label").cast("long").as("neg_label"))
    }, Some("""WITH v AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      p AS (SELECT vec_id AS probe_id, label AS probe_label, e AS pe
        FROM v WHERE vec_id % 100 = 0),
      scored AS (SELECT p.probe_id, v.vec_id,
          round(list_inner_product(v.e, p.pe) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score,
          CAST(v.label AS BIGINT) AS neg_label
        FROM v JOIN p ON v.label <> p.probe_label),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY score DESC, vec_id) AS rn FROM scored)
      SELECT probe_id, vec_id, score, neg_label FROM ranked WHERE rn <= 3""")),


    // LEARNED clustering: distributed Lloyd's k-means (k=8, 2 updates)
    // over the embedding table, then per-vector cluster + score against
    // the final centroids. Deterministic end to end (lowest-id seeds,
    // fp-stabilized centroids, lowest-label tie-break), so the oracle
    // replays the identical trajectory unrolled in SQL.
    QueryDef("ext_kmeans", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val cents = Similarity.kmeansFit(vecs, "vec_id", "embedding",
          k = 8, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
      Similarity.assignNearestScan(vecs, "embedding", cents)
        .select(col("vec_id"), col("assigned_label").as("cluster"),
          col("assign_score").as("score"))
    }, Some(s"""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      ${duckKmeans(k = 8, iters = 2)}
      SELECT vec_id, lbl AS cluster, s AS score FROM af""")),


    // SemDeDup (Abbas et al. 2023): k-means the embedding space, drop
    // every vector with a same-cluster lower-id neighbor above tau
    // cosine. Near-dups are seeded in-query (perturbed copies of every
    // 10th vector, +10000 ids) since the fixture has none; the survivors
    // keep their cluster id. Cluster scoping bounds the pairwise term —
    // the paper's recall tradeoff, and the reason it runs at corpus
    // scale.
    QueryDef("ext_semdedup", (s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
      val dups = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          concat(array(element_at(col("e"), 1) + lit(0.01)),
            slice(col("e"), 2, 63)).as("e"))
      Similarity.semanticDedup(base.unionByName(dups), "vec_id", "e",
          k = 8, iters = 2, tau = 0.99)
        .select(col("vec_id"), col("cluster"))
    }, Some(s"""WITH b AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      v AS (SELECT * FROM b UNION ALL
        SELECT vec_id + 10000 AS vec_id, list_prepend(e[1] + 0.01, e[2:64]) AS e
        FROM b WHERE vec_id % 10 = 0),
      ${duckKmeans(k = 8, iters = 2)}
      , drops AS (SELECT DISTINCT a.vec_id
        FROM af a JOIN af b ON a.lbl = b.lbl AND b.vec_id < a.vec_id
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vb ON vb.vec_id = b.vec_id
        WHERE ${duckCos("va.e", "vb.e")} >= 0.99)
      SELECT af.vec_id, af.lbl AS cluster FROM af
      WHERE af.vec_id NOT IN (SELECT vec_id FROM drops)""")),


    // Prototypicality pruning (Sorscher et al. NeurIPS'22): same k-means
    // trajectory as ext_kmeans, then drop the 30% most-prototypical
    // (closest-to-centroid) vectors of each cluster — the keep-set is
    // the hard tail that beats power-law scaling when data is abundant.
    QueryDef("ext_prototype_prune", (s, dir) =>
      Similarity.prototypePrune(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 8, iters = 2, dropFrac = 0.3),
      Some(s"""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      ${duckKmeans(k = 8, iters = 2)},
      r AS (SELECT vec_id, lbl AS cluster, s AS score,
          row_number() OVER (PARTITION BY lbl ORDER BY s DESC, vec_id) AS rn,
          count(*) OVER (PARTITION BY lbl) AS n FROM af)
      SELECT vec_id, cluster, score, rn > ceil(n * 0.3) AS kept FROM r""")),


    // PageRank over the exact kNN graph (k=3): corpus-centrality for
    // curation — which embeddings does the rest of the corpus point at.
    // Two unrolled damped power-iteration rounds, ranks fp-stabilized
    // (round 6) each round; every node has out-degree k so there are no
    // dangling-mass corrections to model. Per round: one edge shuffle
    // keyed by src + one hash agg keyed by dst (SCALE.md).
    QueryDef("ext_pagerank_knn", (s, dir) => {
      val edges = graft.ext.Graphs.pageRank(
        Similarity.knnGraph(
          Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 3).select("src_id", "dst_id"),
        iters = 2)
      edges.select(col("id").as("vec_id"), col("pr"))
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        scored AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
            round(list_inner_product(b.e, a.e) /
              nullif(sqrt(list_inner_product(b.e, b.e))
                   * sqrt(list_inner_product(a.e, a.e)), 0) + 1e-9, 6) AS score
          FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY src_id
            ORDER BY score DESC, dst_id) AS rn FROM scored),
        edges AS (SELECT src_id, dst_id FROM ranked WHERE rn <= 3),
        nd AS (SELECT src_id AS id FROM edges
          UNION SELECT dst_id FROM edges),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
        odeg AS (SELECT src_id, CAST(count(*) AS BIGINT) AS outdeg
          FROM edges GROUP BY 1),
        p0 AS (SELECT id, round(1.0 / n + 1e-9, 6) AS pr
          FROM nd CROSS JOIN nn),
        c1 AS (SELECT e.dst_id AS id, sum(p.pr / o.outdeg) AS m
          FROM edges e JOIN p0 p ON p.id = e.src_id
          JOIN odeg o ON o.src_id = e.src_id GROUP BY 1),
        p1 AS (SELECT nd.id,
            round((1 - 0.85) / n + 0.85 * coalesce(c1.m, 0) + 1e-9, 6) AS pr
          FROM nd CROSS JOIN nn LEFT JOIN c1 ON c1.id = nd.id),
        c2 AS (SELECT e.dst_id AS id, sum(p.pr / o.outdeg) AS m
          FROM edges e JOIN p1 p ON p.id = e.src_id
          JOIN odeg o ON o.src_id = e.src_id GROUP BY 1),
        p2 AS (SELECT nd.id,
            round((1 - 0.85) / n + 0.85 * coalesce(c2.m, 0) + 1e-9, 6) AS pr
          FROM nd CROSS JOIN nn LEFT JOIN c2 ON c2.id = nd.id)
      SELECT id AS vec_id, pr FROM p2""")),


    // Label-propagation communities over the same kNN graph (2 synchronous
    // rounds): labels are ids, each node takes its neighbors' most
    // frequent label (min on ties) over the SYMMETRIZED edges — integer
    // counts end to end, so the oracle replays the trajectory exactly.
    QueryDef("ext_lpa_knn", (s, dir) => {
      val edges = Similarity.knnGraph(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 3).select("src_id", "dst_id")
      graft.ext.Graphs.labelPropagation(edges, iters = 2)
        .select(col("id").as("vec_id"), col("label").as("community"))
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        scored AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
            round(list_inner_product(b.e, a.e) /
              nullif(sqrt(list_inner_product(b.e, b.e))
                   * sqrt(list_inner_product(a.e, a.e)), 0) + 1e-9, 6) AS score
          FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY src_id
            ORDER BY score DESC, dst_id) AS rn FROM scored),
        edges AS (SELECT src_id, dst_id FROM ranked WHERE rn <= 3),
        sym AS (SELECT src_id, dst_id FROM edges
          UNION SELECT dst_id, src_id FROM edges),
        nd AS (SELECT DISTINCT src_id AS id FROM sym),
        n1 AS (SELECT s.dst_id AS id, l.id AS label, count(*) AS c
          FROM sym s JOIN nd l ON l.id = s.src_id GROUP BY 1, 2),
        b1 AS (SELECT id, label FROM (SELECT *, row_number() OVER (
            PARTITION BY id ORDER BY c DESC, label) AS rn FROM n1)
          WHERE rn = 1),
        l1 AS (SELECT nd.id, coalesce(b1.label, nd.id) AS label
          FROM nd LEFT JOIN b1 ON b1.id = nd.id),
        n2 AS (SELECT s.dst_id AS id, l.label, count(*) AS c
          FROM sym s JOIN l1 l ON l.id = s.src_id GROUP BY 1, 2),
        b2 AS (SELECT id, label FROM (SELECT *, row_number() OVER (
            PARTITION BY id ORDER BY c DESC, label) AS rn FROM n2)
          WHERE rn = 1),
        l2 AS (SELECT nd.id, coalesce(b2.label, nd.id) AS label
          FROM nd LEFT JOIN b2 ON b2.id = nd.id)
      SELECT id AS vec_id, label AS community FROM l2""")),


    // Triangle counts + local clustering coefficient over the same kNN
    // graph (degree-ordered orientation, Suri & Vassilvitskii WWW'11):
    // the graph-density diagnostic — high-lcc nodes sit in tight
    // near-dup/topic cliques, lcc≈0 hubs bridge communities. The
    // orientation makes every triangle count exactly once and bounds
    // the heaviest wedge fanout by O(√|E|) (Graphs.triangleStats
    // scaladoc); the oracle replays the identical oriented 3-join.
    QueryDef("ext_graph_triangles", (s, dir) =>
      graft.ext.Graphs.triangleStats(
        Similarity.knnGraph(
          Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 3).select("src_id", "dst_id"))
        .withColumnRenamed("id", "vec_id"),
      Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        scored AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
            round(list_inner_product(b.e, a.e) /
              nullif(sqrt(list_inner_product(b.e, b.e))
                   * sqrt(list_inner_product(a.e, a.e)), 0) + 1e-9, 6) AS score
          FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY src_id
            ORDER BY score DESC, dst_id) AS rn FROM scored),
        edges AS (SELECT src_id, dst_id FROM ranked WHERE rn <= 3),
        canon AS (SELECT DISTINCT least(src_id, dst_id) AS a,
            greatest(src_id, dst_id) AS b
          FROM edges WHERE src_id <> dst_id),
        deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM
            (SELECT a AS id FROM canon UNION ALL SELECT b FROM canon)
          GROUP BY 1),
        o AS (SELECT
            CASE WHEN (da.deg, c.a) < (db.deg, c.b) THEN c.a ELSE c.b END AS u,
            CASE WHEN (da.deg, c.a) < (db.deg, c.b) THEN c.b ELSE c.a END AS v,
            CASE WHEN (da.deg, c.a) < (db.deg, c.b) THEN db.deg ELSE da.deg END AS dv
          FROM canon c JOIN deg da ON da.id = c.a JOIN deg db ON db.id = c.b),
        tri AS (SELECT e1.u AS tu, e1.v AS tv, e2.v AS tw
          FROM o e1 JOIN o e2
            ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
          JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v),
        pn AS (SELECT id, CAST(count(*) AS BIGINT) AS tri FROM
            (SELECT tu AS id FROM tri UNION ALL SELECT tv FROM tri
             UNION ALL SELECT tw FROM tri)
          GROUP BY 1)
      SELECT d.id AS vec_id, d.deg, CAST(coalesce(pn.tri, 0) AS BIGINT) AS tri,
          CASE WHEN d.deg >= 2 THEN round(2.0 * coalesce(pn.tri, 0)
              / (d.deg * (d.deg - 1)) + 1e-9, 6)
            ELSE 0.0 END AS lcc
      FROM deg d LEFT JOIN pn USING (id)""")),


    // k-core peeling of the kNN(4) graph at k=5 — one above the
    // mandated out-degree, so survival requires MUTUAL-neighbor density
    // the kNN construction doesn't hand out for free. Two rounds do
    // real work on this fixture (500 → 278 → 57 nodes), and the 57
    // survivors' in-subgraph degrees are the per-round peel state the
    // fixed-budget contract exposes (Graphs.kCore scaladoc: a round
    // budget approximates the fixpoint from above). Pure integer set
    // operations — the oracle replays the trajectory exactly.
    QueryDef("ext_graph_kcore", (s, dir) =>
      graft.ext.Graphs.kCore(
        Similarity.knnGraph(
          Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 4).select("src_id", "dst_id"),
        k = 5, iters = 2)
        .withColumnRenamed("id", "vec_id"),
      Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        scored AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
            round(list_inner_product(b.e, a.e) /
              nullif(sqrt(list_inner_product(b.e, b.e))
                   * sqrt(list_inner_product(a.e, a.e)), 0) + 1e-9, 6) AS score
          FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY src_id
            ORDER BY score DESC, dst_id) AS rn FROM scored),
        edges AS (SELECT src_id, dst_id FROM ranked WHERE rn <= 4),
        canon AS (SELECT DISTINCT least(src_id, dst_id) AS a,
            greatest(src_id, dst_id) AS b
          FROM edges WHERE src_id <> dst_id),
        sym AS (SELECT a AS s, b AS d FROM canon
          UNION ALL SELECT b, a FROM canon),
        a0 AS (SELECT DISTINCT s AS id FROM sym),
        d1 AS (SELECT s AS id, count(*) AS dg FROM sym
          JOIN a0 x ON x.id = sym.s JOIN a0 y ON y.id = sym.d GROUP BY 1),
        a1 AS (SELECT id FROM d1 WHERE dg >= 5),
        d2 AS (SELECT s AS id, count(*) AS dg FROM sym
          JOIN a1 x ON x.id = sym.s JOIN a1 y ON y.id = sym.d GROUP BY 1),
        a2 AS (SELECT id FROM d2 WHERE dg >= 5),
        df AS (SELECT s AS id, count(*) AS dg FROM sym
          JOIN a2 x ON x.id = sym.s JOIN a2 y ON y.id = sym.d GROUP BY 1)
      SELECT a2.id AS vec_id,
        CAST(coalesce(df.dg, 0) AS BIGINT) AS core_deg
      FROM a2 LEFT JOIN df ON df.id = a2.id""")),


    // ---- Adversarial graph fixtures (r8): degenerate shapes through
    // the graph operators — a giant dangling-hub star, self-loop-only
    // nodes, and the classic bipartite oscillation. All trajectories
    // are deterministic (integer counts / fp-stabilized ranks), so the
    // oracle replays them exactly.

    // PageRank on a 41-node star whose hub has NO out-edges (dangling):
    // the hub's absorbed mass legitimately leaves the system each round
    // (coalesce-to-0 semantics, same as the oracle's), leaves flatten to
    // the (1-d)/n floor, and the hub's rank is driven by 40 leaf
    // contributions — the maximal-in-degree / zero-out-degree corner the
    // uniform kNN fixture never produces.
    QueryDef("ext_adv_graph_star", (s, dir) => {
      import s.implicits._
      val edges = (1 to 40).map(i => (i.toLong, 0L)).toDF("src_id", "dst_id")
      graft.ext.Graphs.pageRank(edges, iters = 2)
        .select(col("id").as("node_id"), col("pr"))
    }, Some("""WITH edges AS (SELECT i AS src_id, CAST(0 AS BIGINT) AS dst_id
          FROM range(1, 41) t(i)),
      nd AS (SELECT src_id AS id FROM edges UNION SELECT dst_id FROM edges),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
      odeg AS (SELECT src_id, CAST(count(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY 1),
      p0 AS (SELECT id, round(1.0 / n + 1e-9, 6) AS pr FROM nd CROSS JOIN nn),
      c1 AS (SELECT e.dst_id AS id, sum(p.pr / o.outdeg) AS m
        FROM edges e JOIN p0 p ON p.id = e.src_id
        JOIN odeg o ON o.src_id = e.src_id GROUP BY 1),
      p1 AS (SELECT nd.id,
          round((1 - 0.85) / n + 0.85 * coalesce(c1.m, 0) + 1e-9, 6) AS pr
        FROM nd CROSS JOIN nn LEFT JOIN c1 ON c1.id = nd.id),
      c2 AS (SELECT e.dst_id AS id, sum(p.pr / o.outdeg) AS m
        FROM edges e JOIN p1 p ON p.id = e.src_id
        JOIN odeg o ON o.src_id = e.src_id GROUP BY 1),
      p2 AS (SELECT nd.id,
          round((1 - 0.85) / n + 0.85 * coalesce(c2.m, 0) + 1e-9, 6) AS pr
        FROM nd CROSS JOIN nn LEFT JOIN c2 ON c2.id = nd.id)
      SELECT id AS node_id, pr FROM p2""")),

    // Label propagation where every node's ONLY neighbor is itself
    // (self-loops — the "isolated node" an edge-list representation can
    // express), plus one detached 2-node pair: the self-loop nodes must
    // keep their own label through every round (10 singleton
    // communities, never a merge), and the pair swaps labels each
    // synchronous round — after 2 rounds it is back to identity, the
    // deterministic bipartite oscillation the scaladoc names.
    QueryDef("ext_adv_graph_selfloop", (s, dir) => {
      import s.implicits._
      val edges = ((1 to 10).map(i => (i.toLong, i.toLong)) :+ (100L, 101L))
        .toDF("src_id", "dst_id")
      graft.ext.Graphs.labelPropagation(edges, iters = 2)
        .select(col("id").as("node_id"), col("label").as("community"))
    }, Some("""WITH edges AS (SELECT i AS src_id, i AS dst_id
          FROM range(1, 11) t(i)
        UNION ALL SELECT CAST(100 AS BIGINT), CAST(101 AS BIGINT)),
      sym AS (SELECT src_id, dst_id FROM edges
        UNION SELECT dst_id, src_id FROM edges),
      nd AS (SELECT DISTINCT src_id AS id FROM sym),
      n1 AS (SELECT s.dst_id AS id, l.id AS label, count(*) AS c
        FROM sym s JOIN nd l ON l.id = s.src_id GROUP BY 1, 2),
      b1 AS (SELECT id, label FROM (SELECT *, row_number() OVER (
          PARTITION BY id ORDER BY c DESC, label) AS rn FROM n1)
        WHERE rn = 1),
      l1 AS (SELECT nd.id, coalesce(b1.label, nd.id) AS label
        FROM nd LEFT JOIN b1 ON b1.id = nd.id),
      n2 AS (SELECT s.dst_id AS id, l.label, count(*) AS c
        FROM sym s JOIN l1 l ON l.id = s.src_id GROUP BY 1, 2),
      b2 AS (SELECT id, label FROM (SELECT *, row_number() OVER (
          PARTITION BY id ORDER BY c DESC, label) AS rn FROM n2)
        WHERE rn = 1),
      l2 AS (SELECT nd.id, coalesce(b2.label, nd.id) AS label
        FROM nd LEFT JOIN b2 ON b2.id = nd.id)
      SELECT id AS node_id, label AS community FROM l2""")),

    // Label propagation on the star: round 1 the hub adopts the
    // smallest leaf label (1, a 40-way tie broken by min) while every
    // leaf adopts the hub's 0; round 2 the hub sees forty 0-labels and
    // flips to 0 while the leaves see the hub's round-1 label and flip
    // to 1 — the giant-star oscillation with BOTH tie-break and
    // synchronous-update semantics on the line.
    QueryDef("ext_adv_graph_star_lpa", (s, dir) => {
      import s.implicits._
      val edges = (1 to 40).map(i => (i.toLong, 0L)).toDF("src_id", "dst_id")
      graft.ext.Graphs.labelPropagation(edges, iters = 2)
        .select(col("id").as("node_id"), col("label").as("community"))
    }, Some("""WITH edges AS (SELECT i AS src_id, CAST(0 AS BIGINT) AS dst_id
          FROM range(1, 41) t(i)),
      sym AS (SELECT src_id, dst_id FROM edges
        UNION SELECT dst_id, src_id FROM edges),
      nd AS (SELECT DISTINCT src_id AS id FROM sym),
      n1 AS (SELECT s.dst_id AS id, l.id AS label, count(*) AS c
        FROM sym s JOIN nd l ON l.id = s.src_id GROUP BY 1, 2),
      b1 AS (SELECT id, label FROM (SELECT *, row_number() OVER (
          PARTITION BY id ORDER BY c DESC, label) AS rn FROM n1)
        WHERE rn = 1),
      l1 AS (SELECT nd.id, coalesce(b1.label, nd.id) AS label
        FROM nd LEFT JOIN b1 ON b1.id = nd.id),
      n2 AS (SELECT s.dst_id AS id, l.label, count(*) AS c
        FROM sym s JOIN l1 l ON l.id = s.src_id GROUP BY 1, 2),
      b2 AS (SELECT id, label FROM (SELECT *, row_number() OVER (
          PARTITION BY id ORDER BY c DESC, label) AS rn FROM n2)
        WHERE rn = 1),
      l2 AS (SELECT nd.id, coalesce(b2.label, nd.id) AS label
        FROM nd LEFT JOIN b2 ON b2.id = nd.id)
      SELECT id AS node_id, label AS community FROM l2""")),


    // Deep-budget k-core (r9 adversarial): K4 plus a 10-node pendant
    // chain at k = 2 — the chain peels from its single free end one
    // node per round, reaching the K4 fixpoint only at round 10, so a
    // 12-round budget exercises the per-round lineage cut and the
    // monotone-peel early exit the registered kNN row (iters = 2) never
    // touches. The oracle unrolls all 12 rounds mechanically; rounds
    // past the fixpoint are identities on both sides, so the engine's
    // early exit is output-invisible by construction.
    QueryDef("ext_adv_kcore_deep", (s, dir) => {
      import s.implicits._
      val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      val chain = (3L +: (100L to 109L)).sliding(2)
        .map(p => (p.head, p.last)).toSeq
      val edges = (k4 ++ chain).toDF("src_id", "dst_id")
      graft.ext.Graphs.kCore(edges, k = 2, iters = 12)
        .select(col("id").as("node_id"), col("core_deg"))
    }, Some {
      // each a{i} is consumed TWICE (both endpoint joins) — DuckDB
      // inlines plain CTEs per reference, so an unrolled 12-round chain
      // would re-evaluate 2^12 subtrees; MATERIALIZED pins each round
      // to one evaluation (the SQL mirror of the engine's per-round cut)
      val rounds = (1 to 12).map { i =>
        s"""d$i AS MATERIALIZED (SELECT s AS id, count(*) AS dg FROM sym
          JOIN a${i - 1} x ON x.id = sym.s JOIN a${i - 1} y ON y.id = sym.d
          GROUP BY 1),
        a$i AS MATERIALIZED (SELECT id FROM d$i WHERE dg >= 2)"""
      }.mkString(",\n        ")
      s"""WITH raw AS (SELECT * FROM (VALUES
          (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
          (3, 100), (100, 101), (101, 102), (102, 103), (103, 104),
          (104, 105), (105, 106), (106, 107), (107, 108), (108, 109))
          t(src_id, dst_id)),
        canon AS (SELECT DISTINCT least(src_id, dst_id) AS a,
            greatest(src_id, dst_id) AS b FROM raw WHERE src_id <> dst_id),
        sym AS (SELECT a AS s, b AS d FROM canon
          UNION ALL SELECT b, a FROM canon),
        a0 AS (SELECT DISTINCT s AS id FROM sym),
        $rounds,
        df AS (SELECT s AS id, count(*) AS dg FROM sym
          JOIN a12 x ON x.id = sym.s JOIN a12 y ON y.id = sym.d GROUP BY 1)
      SELECT CAST(a12.id AS BIGINT) AS node_id,
        CAST(coalesce(df.dg, 0) AS BIGINT) AS core_deg
      FROM a12 LEFT JOIN df ON df.id = a12.id"""
    }),


    // Seed-set expansion over 12 rotation chains (links step 25° apart
    // in a 2-plane outside the bucket dims): consecutive links score
    // cos 25° ≈ 0.906 ≥ τ=0.9, skip-links cos 50° ≈ 0.643 < τ — so
    // round 1 adds exactly the j=1 links, round 2 the j=2 links, and
    // j≥3 stays out. Both engines build the identical chain fixture
    // from the same double literals; the oracle unrolls both rounds.
    QueryDef("ext_seed_expand", (s, dir) => {
      import s.implicits._
      val ang = Seq(
        (0, 1.0, 0.0),
        (1, 0.9063077870366499, 0.42261826174069944),
        (2, 0.6427876096865393, 0.766044443118978),
        (3, 0.25881904510252074, 0.9659258262890683),
        (4, -0.17364817766693041, 0.984807753012208))
      val rows = for { c <- 0 until 12; (j, cv, sv) <- ang } yield {
        val a = Array.fill(64)(0.0)
        a(8 + 2 * c) = cv
        a(9 + 2 * c) = sv
        (c * 100L + j, a.toSeq)
      }
      val vecs = rows.toDF("vec_id", "e")
      val seeds = vecs.filter(col("vec_id") % 100 === 0).select("vec_id")
      Similarity.seedExpand(vecs, "vec_id", "e", seeds,
        tau = 0.9, rounds = 2)
    }, Some("""WITH ang AS (SELECT j, CAST(cv AS DOUBLE) AS cv,
          CAST(sv AS DOUBLE) AS sv FROM (VALUES
        (0, 1.0, 0.0),
        (1, 0.9063077870366499, 0.42261826174069944),
        (2, 0.6427876096865393, 0.766044443118978),
        (3, 0.25881904510252074, 0.9659258262890683),
        (4, -0.17364817766693041, 0.984807753012208)) t(j, cv, sv)),
      ch AS (SELECT x AS c FROM range(12) r(x)),
      v AS (SELECT c * 100 + j AS vec_id,
          list_transform(range(64), i ->
            CASE WHEN i = 8 + 2 * c THEN cv
                 WHEN i = 9 + 2 * c THEN sv
                 ELSE CAST(0.0 AS DOUBLE) END) AS e
        FROM ch CROSS JOIN ang),
      b AS (SELECT vec_id, e, (CASE WHEN e[1] > e[33] THEN 1 ELSE 0 END)
           + (CASE WHEN e[2] > e[34] THEN 2 ELSE 0 END)
           + (CASE WHEN e[3] > e[35] THEN 4 ELSE 0 END)
           + (CASE WHEN e[4] > e[36] THEN 8 ELSE 0 END) AS bk FROM v),
      sel0 AS (SELECT vec_id FROM v WHERE vec_id % 100 = 0),
      r1 AS (SELECT DISTINCT a.vec_id FROM b a
        JOIN b s2 ON a.bk = s2.bk
        JOIN sel0 ON sel0.vec_id = s2.vec_id
        WHERE round(list_inner_product(a.e, s2.e) /
            nullif(sqrt(list_inner_product(a.e, a.e))
                 * sqrt(list_inner_product(s2.e, s2.e)), 0) + 1e-9, 6) >= 0.9
          AND a.vec_id NOT IN (SELECT vec_id FROM sel0)),
      sel1 AS (SELECT vec_id FROM sel0 UNION ALL SELECT vec_id FROM r1),
      r2 AS (SELECT DISTINCT a.vec_id FROM b a
        JOIN b s2 ON a.bk = s2.bk
        JOIN sel1 ON sel1.vec_id = s2.vec_id
        WHERE round(list_inner_product(a.e, s2.e) /
            nullif(sqrt(list_inner_product(a.e, a.e))
                 * sqrt(list_inner_product(s2.e, s2.e)), 0) + 1e-9, 6) >= 0.9
          AND a.vec_id NOT IN (SELECT vec_id FROM sel1))
      SELECT vec_id, CAST(0 AS BIGINT) AS round FROM sel0
      UNION ALL SELECT vec_id, CAST(1 AS BIGINT) FROM r1
      UNION ALL SELECT vec_id, CAST(2 AS BIGINT) FROM r2""")),


    // Binary-quantized Hamming top-5 (self-excluded, every 100th vector
    // probes): sign packing and XOR+popcount are integer end to end, so
    // the oracle needs no rounding protocol — the 32-bit halves keep
    // both engines' arithmetic overflow-free.
    QueryDef("ext_sim_hamming", (s, dir) => {
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      Similarity.hammingTopK(vecs, "vec_id", "embedding",
          probes, "probe_id", "pe", k = 5)
        .filter(col("vec_id") =!= col("probe_id"))
    }, Some("""WITH enc AS (SELECT vec_id,
          CAST(list_sum(list_transform(range(0, 32), i ->
            CASE WHEN embedding[i + 1] > 0 THEN CAST(2 ** i AS BIGINT)
                 ELSE 0 END)) AS BIGINT) AS h1,
          CAST(list_sum(list_transform(range(0, 32), i ->
            CASE WHEN embedding[i + 33] > 0 THEN CAST(2 ** i AS BIGINT)
                 ELSE 0 END)) AS BIGINT) AS h2
        FROM embeddings),
      p AS (SELECT vec_id AS probe_id, h1 AS p1, h2 AS p2 FROM enc
        WHERE vec_id % 100 = 0),
      d AS (SELECT p.probe_id, enc.vec_id,
          CAST(bit_count(xor(enc.h1, p.p1))
             + bit_count(xor(enc.h2, p.p2)) AS BIGINT) AS hamming
        FROM enc CROSS JOIN p)
      SELECT probe_id, vec_id, hamming FROM (SELECT *,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY hamming, vec_id) AS rn FROM d)
      WHERE rn <= 5 AND vec_id <> probe_id""")),


    // Degenerate vectors through sign quantization: the 1e-20 uniform
    // vector packs IDENTICALLY to the ones vector (strict > 0 ignores
    // magnitude ⇒ hamming 0 — binary quantization's magnitude
    // blindness, pinned), while the zero vector and the all-negative
    // vector BOTH pack to the all-zero code (no positive component) and
    // are therefore mutually indistinguishable — the documented failure
    // mode that makes the exact re-rank stage non-optional.
    QueryDef("ext_adv_hamming", (s, dir) => {
      val vecs = advVecs(s, dir).select(col("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id") === 9100002L)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      Similarity.hammingTopK(vecs, "vec_id", "embedding",
        probes, "probe_id", "pe", k = 4)
    }, Some(s"""WITH enc AS (SELECT vec_id,
          CAST(list_sum(list_transform(range(0, 32), i ->
            CASE WHEN embedding[i + 1] > 0 THEN CAST(2 ** i AS BIGINT)
                 ELSE 0 END)) AS BIGINT) AS h1,
          CAST(list_sum(list_transform(range(0, 32), i ->
            CASE WHEN embedding[i + 33] > 0 THEN CAST(2 ** i AS BIGINT)
                 ELSE 0 END)) AS BIGINT) AS h2
        FROM $DuckAdvVecs),
      p AS (SELECT vec_id AS probe_id, h1 AS p1, h2 AS p2 FROM enc
        WHERE vec_id = 9100002),
      d AS (SELECT p.probe_id, enc.vec_id,
          CAST(bit_count(xor(enc.h1, p.p1))
             + bit_count(xor(enc.h2, p.p2)) AS BIGINT) AS hamming
        FROM enc CROSS JOIN p)
      SELECT probe_id, vec_id, hamming FROM (SELECT *,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY hamming, vec_id) AS rn FROM d)
      WHERE rn <= 4""")),


    // kNN label transfer: every 3rd vector plays the unlabeled batch,
    // the rest the labeled seed set; 5-neighbor majority vote, smallest
    // label on ties. Integer votes — the oracle replays the scored
    // top-k, the vote count, and the (votes desc, label asc) argmax.
    QueryDef("ext_knn_classify", (s, dir) => {
      val all = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          col("label").cast("long").as("label"))
      val labeled = all.filter(col("vec_id") % 3 =!= 0)
      val probes = all.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      Similarity.knnClassify(labeled, "vec_id", "embedding", "label",
        probes, "probe_id", "pe", k = 5)
    }, Some("""WITH v AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      lab AS (SELECT * FROM v WHERE vec_id % 3 <> 0),
      prob AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id % 3 = 0),
      scored AS (SELECT p.probe_id, l.vec_id, l.label,
          round(list_inner_product(l.e, p.pe) /
            nullif(sqrt(list_inner_product(l.e, l.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
        FROM lab l CROSS JOIN prob p),
      topk AS (SELECT probe_id, label FROM (SELECT *, row_number() OVER (
          PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 5),
      votes AS (SELECT probe_id, CAST(label AS BIGINT) AS label,
          CAST(count(*) AS BIGINT) AS votes FROM topk GROUP BY 1, 2),
      best AS (SELECT probe_id, label, votes FROM (SELECT *,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY votes DESC, label) AS rn FROM votes) WHERE rn = 1)
      SELECT probe_id, label, votes FROM best""")),


    // ───────────────────────── adversarial robustness ─────────────────

    // Degenerate vectors through exact cosine top-k: a zero-norm CORPUS
    // vector must never rank (NULL score — desc NULLS LAST keeps it out
    // of any top-k with ≥k real rows, and the explicit notNull filter
    // pins the contract), a zero-norm PROBE must return zero rows (every
    // score NULL), the 1e-20 parallel twin must tie its full-magnitude
    // original at exactly 1.0, and the negated vector lands at −1.0.
    // The oracle pre-filters NULL scores before ranking — same survivor
    // set, so divergent NULL-ordering conventions between the engines
    // never reach the comparison.
    QueryDef("ext_adv_sim_topk", (s, dir) => {
      val vecs = advVecs(s, dir)
      val probes = vecs.filter(col("vec_id").isin(9100001L, 9100002L))
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
          probes, "probe_id", "probe_vec", k = 5)
        .filter(col("score").isNotNull)
    }, Some(s"""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM $DuckAdvVecs),
      p AS (SELECT vec_id AS probe_id, e AS pe FROM v
        WHERE vec_id IN (9100001, 9100002)),
      scored AS (SELECT p.probe_id, v.vec_id,
          round(list_inner_product(v.e, p.pe) /
            nullif(sqrt(list_inner_product(v.e, v.e))
                 * sqrt(list_inner_product(p.pe, p.pe)), 0) + 1e-9, 6) AS score
        FROM v CROSS JOIN p),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY score DESC, vec_id) AS rn FROM scored
        WHERE score IS NOT NULL)
      SELECT probe_id, vec_id, score FROM ranked WHERE rn <= 5""")),


    // Degenerate vectors through int8 quantization: the zero vector's
    // scale is 0 (guarded to all-zero codes, never a division), the
    // 1e-20 uniform vector quantizes IDENTICALLY to the ones vector
    // (scale is relative to per-vector max-abs — magnitude cancels), and
    // the negated vector mirrors to −127.
    QueryDef("ext_adv_quantize", (s, dir) =>
      Similarity.int8Quantize(advVecs(s, dir), "vec_id", "embedding"),
      Some(s"""WITH t AS (SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
            AS scale,
          embedding FROM $DuckAdvVecs),
        u AS (SELECT vec_id, scale,
          generate_subscripts(embedding, 1) - 1 AS dim,
          unnest(embedding) AS x FROM t)
      SELECT vec_id, CAST(dim AS BIGINT) AS dim,
        CAST(CASE WHEN scale = 0 THEN 0
                  ELSE round(CAST(x AS DOUBLE) / scale + 1e-9) END AS BIGINT) AS q
      FROM u""")),


    // Semantic decontamination: a perturbed copy of every 50th corpus
    // vector plays the benchmark set; the corpus rows whose same-bucket
    // cosine vs any benchmark vector reaches 0.99 (their originals, plus
    // any true near-twins) must be dropped. The bucket gate is part of
    // the operator contract — the oracle replicates it, so a perturbed
    // copy whose first component flips its sign bit legitimately escapes
    // on BOTH engines.
    QueryDef("ext_decontaminate_semantic", (s, dir) => {
      val vecs = Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
      val bench = vecs.filter(col("vec_id") % 50 === 0)
        .select(concat(array(element_at(col("e"), 1) + lit(0.01)),
          slice(col("e"), 2, 63)).as("be"))
      Similarity.semanticDecontaminate(vecs, "vec_id", "e", bench, "be",
          tau = 0.99, bits = 4)
        .select(col("vec_id"))
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      b AS (SELECT list_prepend(e[1] + 0.01, e[2:64]) AS be FROM v
        WHERE vec_id % 50 = 0),
      bb AS (SELECT be, (CASE WHEN be[1] > be[33] THEN 1 ELSE 0 END)
           + (CASE WHEN be[2] > be[34] THEN 2 ELSE 0 END)
           + (CASE WHEN be[3] > be[35] THEN 4 ELSE 0 END)
           + (CASE WHEN be[4] > be[36] THEN 8 ELSE 0 END) AS bucket FROM b),
      cb AS (SELECT vec_id, e, (CASE WHEN e[1] > e[33] THEN 1 ELSE 0 END)
           + (CASE WHEN e[2] > e[34] THEN 2 ELSE 0 END)
           + (CASE WHEN e[3] > e[35] THEN 4 ELSE 0 END)
           + (CASE WHEN e[4] > e[36] THEN 8 ELSE 0 END) AS bucket FROM v),
      bad AS (SELECT DISTINCT vec_id FROM cb c JOIN bb ON c.bucket = bb.bucket
        WHERE round(list_inner_product(c.e, bb.be) /
            nullif(sqrt(list_inner_product(c.e, c.e))
                 * sqrt(list_inner_product(bb.be, bb.be)), 0) + 1e-9, 6) >= 0.99)
      SELECT vec_id FROM v
      WHERE vec_id NOT IN (SELECT vec_id FROM bad)""")),


    // MMR diversified re-rank (λ=0.7, k=3 over each probe's top-12
    // relevance candidates). The oracle unrolls the greedy selection
    // step by step — step-1 score is λ·rel (empty selected set), each
    // later step subtracts (1−λ)·max cosine to the already-picked
    // rows; identical rounding (+1e-9, 6 digits) and id tiebreaks on
    // both engines make the cascade deterministic. (1 - 0.7) is spelled
    // as the SUBTRACTION in SQL so both engines use the same
    // double-precision value of μ.
    QueryDef("ext_mmr_rerank", (s, dir) => {
      val vecs = Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
      val probes = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("e").as("pe"))
      graft.functions.GraftFunctions.register(s)
      val rel = vecs.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("rel",
          round(Similarity.cosineNative(col("e"), col("pe")) + lit(1e-9), 6))
      val cand = rel.withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
            .orderBy(desc("rel"), col("vec_id"))))
        .filter(col("__rn") <= 12)
        .select("probe_id", "vec_id", "rel", "e")
      Similarity.mmrRerank(cand, "probe_id", "vec_id", "rel", "e",
        k = 3, lambda = 0.7)
    }, Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id % 100 = 0),
      rel AS (SELECT probe_id, vec_id, e,
          round(list_inner_product(e, pe) /
            nullif(sqrt(list_inner_product(e, e))
                 * sqrt(list_inner_product(pe, pe)), 0) + 1e-9, 6) AS rel
        FROM v CROSS JOIN p WHERE vec_id <> probe_id),
      cand AS (SELECT probe_id, vec_id, e, rel FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY rel DESC, vec_id) AS rn FROM rel) WHERE rn <= 12),
      s1 AS (SELECT probe_id, vec_id, e, mmr FROM (
          SELECT *, round(0.7 * rel + 1e-9, 6) AS mmr,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY round(0.7 * rel + 1e-9, 6) DESC, vec_id) AS rn
          FROM cand) WHERE rn = 1),
      m2 AS (SELECT c.probe_id, c.vec_id, c.e, c.rel,
          round(0.7 * c.rel - (1 - 0.7) *
            (list_inner_product(c.e, s.e) /
              nullif(sqrt(list_inner_product(c.e, c.e))
                   * sqrt(list_inner_product(s.e, s.e)), 0)) + 1e-9, 6) AS mmr
        FROM cand c JOIN s1 s ON c.probe_id = s.probe_id
        WHERE c.vec_id <> s.vec_id),
      s2 AS (SELECT probe_id, vec_id, e, mmr FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY mmr DESC, vec_id) AS rn FROM m2) WHERE rn = 1),
      m3 AS (SELECT c.probe_id, c.vec_id,
          round(0.7 * c.rel - (1 - 0.7) * greatest(
            list_inner_product(c.e, a.e) /
              nullif(sqrt(list_inner_product(c.e, c.e))
                   * sqrt(list_inner_product(a.e, a.e)), 0),
            list_inner_product(c.e, b.e) /
              nullif(sqrt(list_inner_product(c.e, c.e))
                   * sqrt(list_inner_product(b.e, b.e)), 0)) + 1e-9, 6) AS mmr
        FROM cand c JOIN s1 a ON c.probe_id = a.probe_id
                    JOIN s2 b ON c.probe_id = b.probe_id
        WHERE c.vec_id <> a.vec_id AND c.vec_id <> b.vec_id),
      s3 AS (SELECT probe_id, vec_id, mmr FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY mmr DESC, vec_id) AS rn FROM m3) WHERE rn = 1)
      SELECT probe_id, CAST(1 AS BIGINT) AS rank, vec_id, mmr FROM s1
      UNION ALL
      SELECT probe_id, CAST(2 AS BIGINT), vec_id, mmr FROM s2
      UNION ALL
      SELECT probe_id, CAST(3 AS BIGINT), vec_id, mmr FROM s3""")),


    // Degenerate vectors through MMR: the zero vector tops relevance and
    // is picked first — its similarity to everything is 0 by contract
    // (engine: zero-norm cosine ≡ 0; oracle: coalesce(NULL, 0)), so it
    // never poisons later steps. Step 3 then prefers the ANTI-parallel
    // vector (cos −1 ⇒ no redundancy penalty) over the 1e-20 twin of an
    // already-selected vector (cos 1 ⇒ full penalty) despite its lower
    // relevance — redundancy demotion pinned cross-engine on the exact
    // degenerate family.
    QueryDef("ext_adv_mmr", (s, dir) => {
      val cand = advVecs(s, dir).filter(col("vec_id") >= 9100001L)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
        .withColumn("probe_id", lit(0L))
        .withColumn("rel", round((lit(9100006L) - col("vec_id"))
          .cast("double") / 10.0 + lit(1e-9), 6))
      Similarity.mmrRerank(cand, "probe_id", "vec_id", "rel", "e",
        k = 3, lambda = 0.7)
    }, Some(s"""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM $DuckAdvVecs WHERE vec_id >= 9100001),
      cand AS (SELECT CAST(0 AS BIGINT) AS probe_id, vec_id, e,
          round((9100006 - vec_id) / 10.0 + 1e-9, 6) AS rel FROM v),
      s1 AS (SELECT probe_id, vec_id, e, mmr FROM (
          SELECT *, round(0.7 * rel + 1e-9, 6) AS mmr,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY round(0.7 * rel + 1e-9, 6) DESC, vec_id) AS rn
          FROM cand) WHERE rn = 1),
      m2 AS (SELECT c.probe_id, c.vec_id, c.e, c.rel,
          round(0.7 * c.rel - (1 - 0.7) * coalesce(
            list_inner_product(c.e, s.e) /
              nullif(sqrt(list_inner_product(c.e, c.e))
                   * sqrt(list_inner_product(s.e, s.e)), 0), 0) + 1e-9, 6)
            AS mmr
        FROM cand c JOIN s1 s ON c.probe_id = s.probe_id
        WHERE c.vec_id <> s.vec_id),
      s2 AS (SELECT probe_id, vec_id, e, mmr FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY mmr DESC, vec_id) AS rn FROM m2) WHERE rn = 1),
      m3 AS (SELECT c.probe_id, c.vec_id,
          round(0.7 * c.rel - (1 - 0.7) * greatest(
            coalesce(list_inner_product(c.e, a.e) /
              nullif(sqrt(list_inner_product(c.e, c.e))
                   * sqrt(list_inner_product(a.e, a.e)), 0), 0),
            coalesce(list_inner_product(c.e, b.e) /
              nullif(sqrt(list_inner_product(c.e, c.e))
                   * sqrt(list_inner_product(b.e, b.e)), 0), 0)) + 1e-9, 6)
            AS mmr
        FROM cand c JOIN s1 a ON c.probe_id = a.probe_id
                    JOIN s2 b ON c.probe_id = b.probe_id
        WHERE c.vec_id <> a.vec_id AND c.vec_id <> b.vec_id),
      s3 AS (SELECT probe_id, vec_id, mmr FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY mmr DESC, vec_id) AS rn FROM m3) WHERE rn = 1)
      SELECT probe_id, CAST(1 AS BIGINT) AS rank, vec_id, mmr FROM s1
      UNION ALL
      SELECT probe_id, CAST(2 AS BIGINT), vec_id, mmr FROM s2
      UNION ALL
      SELECT probe_id, CAST(3 AS BIGINT), vec_id, mmr FROM s3"""))
  )
}
