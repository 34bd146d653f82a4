package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextOps}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "THE  QUICK Brown fox JUMPS over the lazy dog near the river bank today"), // case/ws dup of 1
    (3L, "a completely different document about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near-dup of 1
    (5L, "unrelated text on minhash signatures banding and jaccard verification steps"))
    .toDF("doc_id", "text")

  test("exact dedup keeps lowest id per normalized text") {
    val out = Dedup.exact(corpus, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("exactGroups reports survivor and copy count") {
    val m = Dedup.exactGroups(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == 2L && m(3L) == 1L)
  }

  test("incremental dedup: base content dropped, batch self-collapses, novel survives") {
    val base = corpus.filter(col("doc_id") <= 3)
    val batch = Seq(
      (10L, "THE QUICK brown fox jumps over the lazy dog near the river bank today"), // = base 1
      (11L, "a brand new document no snapshot has ever seen before right now"),
      (12L, "A BRAND NEW document no snapshot has ever seen before right now"), // dup of 11
      (13L, "unrelated text on minhash signatures banding and jaccard verification steps"))
      .toDF("doc_id", "text")
    val m = Dedup.incremental(batch, base, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 10 matches base doc 1 -> dropped; 11/12 collapse to 11 (2 copies);
    // 13 is novel relative to THIS base (doc 5 excluded) -> survives
    assert(m == Map(11L -> 2L, 13L -> 1L))
    // the Bloom-gated path must give the identical answer (false
    // positives are removed by the verification anti-join)
    val mb = Dedup.incrementalBloom(batch, base, "text", "doc_id",
        expectedItems = 100L, fpp = 0.01)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mb == m)
    // and even a tiny, collision-heavy filter stays exact
    val mTiny = Dedup.incrementalBloom(batch, base, "text", "doc_id",
        expectedItems = 2L, fpp = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mTiny == m)
  }

  test("incremental NEAR-dup: base near-dups drop, batch self-near-dups " +
      "drop by lower-id witness, novel survives") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "minhash banding and jaccard verification form the near dup pipeline core"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of base 1 (tail append, j ~ 0.8) -> dropped vs base
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today extra tail"),
      // novel pair: 11 survives (lowest id), 12 drops (witness 11)
      (11L, "completely novel content about distributed shuffles and partition pruning at scale"),
      (12L, "completely novel content about distributed shuffles and partition pruning at scale plus more"),
      // unrelated novel doc survives
      (13L, "entirely different text with no overlap to anything else in this fixture"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalNearDup(batch, base, "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 32)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(11L, 13L))
    // a batch doc whose only witness was itself dropped vs base still
    // drops (conservative rule): witness restriction is to base-SURVIVORS
    val batch2 = Seq(
      (20L, "the quick brown fox jumps over the lazy dog near the river bank today extra tail"),
      // near-dup of 20 but NOT of base 1 directly would need crafted text;
      // instead check the survivor set is stable when the witness drops
      (21L, "entirely different text with no overlap to anything else in this fixture"))
      .toDF("doc_id", "text")
    val kept2 = Dedup.incrementalNearDup(batch2, base, "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 32)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept2 == Seq(21L))
  }

  test("persisted-index incremental near-dup: identical output with the " +
      "base text deleted — the query side provably never re-reads it") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "minhash banding and jaccard verification form the near dup pipeline core"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today extra tail"),
      (11L, "completely novel content about distributed shuffles and partition pruning at scale"),
      (12L, "completely novel content about distributed shuffles and partition pruning at scale plus more"),
      (13L, "entirely different text with no overlap to anything else in this fixture"))
      .toDF("doc_id", "text")
    val expected = Dedup.incrementalNearDup(batch, base, "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 32)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(expected == Seq(11L, 13L))
    // build the index from base text staged on disk, materialize it as
    // warehouse tables, then DELETE the staged base — if the indexed run
    // still answers, the base text was never on the query path
    val baseDir = tempDir("graft_nd_base")
    base.write.mode("overwrite").parquet(baseDir.toString)
    val (bandT, shT) = Dedup.nearDupIndex(
      spark.read.parquet(baseDir.toString), "doc_id", "text",
      numHashes = 64, bands = 32)
    graft.core.Materialize.bucketTable(spark, "graft_test_nd_bands",
      bandT, buckets = 4, bucketCols = Seq("band", "band_hash"))
    graft.core.Materialize.bucketTable(spark, "graft_test_nd_shingles",
      shT, buckets = 4, bucketCols = Seq("doc_id"))
    spark.catalog.clearCache() // drop any cached base-derived frames too
    java.nio.file.Files.walk(baseDir)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    val kept = Dedup.incrementalNearDupIndexed(batch,
        spark.table("graft_test_nd_bands"), spark.table("graft_test_nd_shingles"),
        "doc_id", "text", threshold = 0.5, numHashes = 64, bands = 32)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == expected)
  }

  test("repeatedSpanStats: corpus-wide window repeats merge into maximal " +
      "spans; adjacency is one span; clean and sub-k docs zero-fill") {
    // k=3, minCount=2. Shared 5-token run "alpha beta gamma delta epsilon"
    // in docs 1 and 2 -> 3 repeated windows per doc merging into ONE
    // 5-token span. Doc 3: same text twice (within-doc repeat counts).
    // Doc 4: clean. Doc 5: two tokens (< k, no windows).
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon unique one tail here"),
      (2L, "other head words alpha beta gamma delta epsilon distinct end"),
      (3L, "rep tok trip rep tok trip"),
      (4L, "completely clean document nothing shared at all"),
      (5L, "two tokens"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpanStats(df, "doc_id", "text", k = 3, minCount = 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((9L, 5L, 1L, 0.555556)), s"got ${out(1L)}")
    assert(out(2L) == ((10L, 5L, 1L, 0.5)), s"got ${out(2L)}")
    // doc 3: windows (rep tok trip)@1,@4 repeat (same fp twice) plus
    // (tok trip rep)@2 / (trip rep tok)@3 are unique -> spans [1,4)+[4,7)
    // adjacent -> ONE span covering all 6 tokens
    assert(out(3L) == ((6L, 6L, 1L, 1.0)), s"got ${out(3L)}")
    assert(out(4L) == ((7L, 0L, 0L, 0.0)), s"got ${out(4L)}")
    assert(out(5L) == ((2L, 0L, 0L, 0.0)), s"got ${out(5L)}")
  }

  test("bucket cap drops mega-buckets, leaves normal candidates intact") {
    // 30 byte-identical docs form a mega-bucket in EVERY band (identical
    // signatures); one genuine near-dup pair (41, 42) sits in small
    // buckets. The cap must kill the m^2 identical-pair blowup and keep
    // the real pair.
    val same = (0L until 30L).map(i =>
      (i, "identical boilerplate body repeated verbatim across many documents today"))
    val pair = Seq(
      (41L, "one organic document about shuffle sizing and broadcast thresholds in spark"),
      (42L, "one organic document about shuffle sizing and broadcast thresholds in spark plus tail"))
    val df = (same ++ pair).toDF("doc_id", "text")
    val capped = Dedup.candidatePairs(df, "doc_id", "text",
      numHashes = 64, bands = 32, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((41L, 42L)), "small-bucket pair must survive the cap")
    assert(!capped.exists { case (a, b) => a < 30 && b < 30 },
      "mega-bucket members must contribute no pairs under the cap")
    val uncapped = Dedup.candidatePairs(df, "doc_id", "text",
      numHashes = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.exists { case (a, b) => a < 30 && b < 30 },
      "without the cap the mega-bucket pairs are present (the hazard is real)")
  }

  test("near-dup finds the perturbed pair and no unrelated pairs") {
    val pairs = Dedup.nearDupPairs(corpus, "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 32)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "normalized-equal docs must pair")
    assert(pairs.contains((1L, 4L)), "one-token-changed doc must pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 5L || p._2 == 5L),
      "unrelated docs must not pair")
  }

  test("jaccard bounds and identity") {
    val df = corpus.select(
      Dedup.jaccard(Dedup.shingleHashes(col("text")), Dedup.shingleHashes(col("text")))
        .as("self"))
    assert(df.collect().forall(_.getDouble(0) == 1.0))
  }

  test("simhash: small edit -> small hamming; unrelated -> large hamming") {
    val sh = corpus.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) == 0, "normalized-equal docs share simhash")
    assert(ham(sh(1L), sh(4L)) <= 16, "near-dup docs are close in hamming space")
    assert(ham(sh(1L), sh(3L)) > 16, "unrelated docs are far in hamming space")
  }

  test("simhashFrame (typed hot path) satisfies the same locality properties") {
    val sh = Dedup.simhashFrame(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) == 0)
    assert(ham(sh(1L), sh(4L)) <= 16)
    assert(ham(sh(1L), sh(3L)) > 16)
  }

  test("banded simhash candidates recover exactly the brute-force pair set") {
    val docs = graft.core.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val dups = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" x")).as("text"))
    val corpus600 = docs.unionByName(dups)
    val banded = Dedup.simhashNearDupPairs(corpus600, "doc_id", "text",
        maxHamming = 3, bands = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth (test-only — the quadratic form the banding replaces)
    val sh = Dedup.simhashFrame(corpus600, "doc_id", "text")
    val brute = sh.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .filter(Dedup.hamming(col("sh_a"), col("sh_b")) <= 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute, "pigeonhole banding must have full recall at hamming <= bands-1")
    assert(banded.nonEmpty, "fixture construction must yield near-dup pairs")
  }

  test("connectedComponents resolves chains, stars, and singleton edges") {
    // components: {1,2,3,4} (a path — forces multiple contraction rounds),
    // {10,11,12} (a star), {20,21} (one edge)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (20L, 21L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents handles duplicate/reversed edges and empty input") {
    val edges = Seq((2L, 1L), (1L, 2L), (2L, 1L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L))
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(empty.count() == 0)
  }

  test("distributed large-star/small-star equals driver union-find") {
    // deterministic pseudo-random graph: 120 nodes, 90 edges from a
    // multiplicative hash — mixes chains, merges, and singletons
    val edges = (0 until 90).map { i =>
      val u = (i * 2654435761L) % 120
      val v = (u + 1 + (i * 40503L) % 7) % 120
      (u, v)
    }.toDF("a", "b")
    val driver = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponentsDistributed(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver == dist,
      "both component paths must produce identical (id, min-id) maps")
    // the RELIABLE checkpoint strategy (cluster setting) must run the
    // same loop against a durable dir and produce the identical map —
    // and actually write checkpoint data there
    val cpDir = java.nio.file.Files.createTempDirectory("graft_cc_cp")
    try {
      val rel = Dedup.connectedComponentsDistributed(edges, "a", "b",
          checkpoint = graft.core.CheckpointStrategy.Reliable(cpDir.toString))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rel == driver)
      val wrote = java.nio.file.Files.walk(cpDir)
        .anyMatch(p => java.nio.file.Files.isRegularFile(p))
      assert(wrote, "reliable strategy must materialize rounds under the dir")
    } finally {
      java.nio.file.Files.walk(cpDir)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  test("nearDupClusters partitions the corpus; canonical = component min") {
    val out = Dedup.nearDupClusters(corpus, "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val comp = out.map(t => t._1 -> t._2).toMap
    assert(comp.keySet == Set(1L, 2L, 3L, 4L, 5L), "every doc gets a component")
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(4L) == 1L,
      "near-dup chain 1~2, 1~4 collapses to one component rooted at 1")
    assert(comp(3L) == 3L && comp(5L) == 5L, "unrelated docs stay singletons")
    assert(out.forall { case (id, c, canon) => canon == (id == c) })
  }

  test("cutRepeatedSpans removes covered tokens and rebuilds survivors") {
    val docs = Seq(
      (1L, "alpha beta gamma delta one two three"),
      (2L, "x alpha beta gamma delta y"),           // shares a 4-token run with 1
      (3L, "unique words only here nothing repeats"),
      (4L, "rep rep rep rep rep"))                  // one giant within-doc repeat
      .toDF("doc_id", "text")
    val out = Dedup.cutRepeatedSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // repeated 3-grams: "alpha beta gamma" / "beta gamma delta" (docs 1+2),
    // "rep rep rep" (3 occurrences inside doc 4)
    assert(out(1L) == (("one two three", 7L, 4L)))
    assert(out(2L) == (("x y", 6L, 4L)))
    assert(out(3L) == (("unique words only here nothing repeats", 6L, 0L)))
    assert(out(4L) == (("", 5L, 5L)), "a fully-covered doc stays, emptied")
  }

  test("keepBestPerCluster elects the best-quality member, min id on ties") {
    // quality-driven: doc 2 outscores its cluster mates 1 and 4
    val byQ = Dedup.keepBestPerCluster(corpus, "doc_id", "text",
        quality = when(col("doc_id") === 2, lit(10L)).otherwise(lit(1L)),
        threshold = 0.5, numHashes = 64, bands = 32)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(byQ == Map(1L -> false, 2L -> true, 3L -> true,
      4L -> false, 5L -> true),
      "cluster {1,2,4} keeps its highest-quality member; singletons keep")
    // all-tied: the representative falls back to the lowest id
    val tied = Dedup.keepBestPerCluster(corpus, "doc_id", "text",
        quality = lit(1L), threshold = 0.5, numHashes = 64, bands = 32)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(tied == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> true))
  }

  test("fingerprint is whitespace/case-normalized") {
    val fps = corpus.select(TextOps.fingerprint(col("text")))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(1) && fps(0) != fps(3))
  }

  test("incremental near-dup is identical against a bucketCompacted index") {
    import spark.implicits._
    val bandsT = "graft_test_cpx_bands"
    val shT = "graft_test_cpx_shingles"
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val growth = docs.filter(col("doc_id") % 3 === 1)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(docs.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text")))
    val (b0, s0) = Dedup.nearDupIndex(base, "doc_id", "text")
    graft.core.Materialize.bucketTable(spark, bandsT, b0,
      buckets = 8, bucketCols = Seq("band", "band_hash"))
    graft.core.Materialize.bucketTable(spark, shT, s0,
      buckets = 8, bucketCols = Seq("doc_id"))
    val (b1, s1) = Dedup.nearDupIndex(growth, "doc_id", "text")
    graft.core.Materialize.bucketAppend(spark, bandsT, b1,
      buckets = 8, bucketCols = Seq("band", "band_hash"))
    graft.core.Materialize.bucketAppend(spark, shT, s1,
      buckets = 8, bucketCols = Seq("doc_id"))
    def run() = Dedup.incrementalNearDupIndexed(batch,
        spark.table(bandsT), spark.table(shT), "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val before = run()
    graft.core.Materialize.bucketCompact(spark, bandsT,
      buckets = 8, bucketCols = Seq("band", "band_hash"))
    graft.core.Materialize.bucketCompact(spark, shT,
      buckets = 8, bucketCols = Seq("doc_id"))
    assert(run() == before,
      "compaction must not change a single dedup verdict")
    graft.core.Materialize.dropWithLocation(spark, bandsT)
    graft.core.Materialize.dropWithLocation(spark, shT)
  }

  test("registered reliable-checkpoint clustering is bit-identical to the local path") {
    val run = graft.queries.Registry.queries
    val local = run("ext_dedup_components")(spark, sfDir)
    val reliable = run("ext_dedup_components_reliable")(spark, sfDir)
    assert(local.schema == reliable.schema)
    assert(local.exceptAll(reliable).isEmpty && reliable.exceptAll(local).isEmpty,
      "durable-checkpoint clustering must produce the identical partition")
  }

  test("leakageSafeSplit: near-dup pair shares one split keyed on the component") {
    import spark.implicits._
    // 1 and 2 are near-dups (3-shingle Jaccard 3/4 = .75 ≥ .5); 3 is
    // unrelated. The pair must land in ONE split — the one its
    // component (min id = 1) hashes to — regardless of where a
    // per-document hash would have sent id 2 on its own.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val out = Dedup.leakageSafeSplit(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id", "component", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(1L, 1L, 3L))
    assert(out(0)._3 == out(1)._3, "cluster members must share a split")
    // the split is the component's md5 cell, not the member's
    val expected = docs.sparkSession.range(1)
      .select(graft.ext.Corpus.hashSplit(lit(1L)).as("s"))
      .as[String].head()
    assert(out(0)._3 == expected)
  }

  test("qgramEditJoin: hand-checkable pairs, distance-0 groups, short valve") {
    // kitten==kitten (0), kitten~mitten (1); sitting is 3 edits from both
    // (excluded at tau=2); abc~abd (1) rides the short-string valve
    // (len 3 <= q(tau+1)-1 = 5, no usable gram bound); xyz matches nothing
    val df = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitten"),
      (4L, "mitten"), (5L, "abc"), (6L, "abd"), (7L, "xyz"))
      .toDF("id", "s")
    val got = Dedup.qgramEditJoin(df, "id", "s", tau = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map((1L, 3L) -> 0L, (1L, 4L) -> 1L, (3L, 4L) -> 1L,
      (5L, 6L) -> 1L))
    graft.core.CacheRegistry.releaseAll()
  }

  test("qgramEditJoin equals brute-force levenshtein join (no false negatives)") {
    // edits of a base string spread distances across the threshold, with
    // duplicates for distance-0 groups and a short-string cluster
    val base = "protonation"
    val docs = ((0 until 30).map { i =>
      val s = i % 6 match {
        case 0 => base
        case 1 => base.updated(i % base.length, 'x')                  // 1 sub
        case 2 => base.take(i % base.length) + base.drop(i % base.length + 1) // 1 del
        case 3 => base.updated(2, 'q').updated(7, 'z')                // 2 subs
        case 4 => base.reverse                                        // far
        case 5 => s"ab${i % 3}"                                       // shorts
      }
      (i.toLong, s)
    }).toDF("id", "s")
    val fast = Dedup.qgramEditJoin(docs, "id", "s", tau = 2)
      .as[(Long, Long, Long)].collect().toSet
    val brute = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.id") < col("b.id") &&
        levenshtein(col("a.s"), col("b.s")) <= 2)
      .select(col("a.id"), col("b.id"),
        levenshtein(col("a.s"), col("b.s")).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture must produce qualifying pairs")
    assert(fast === brute)
    graft.core.CacheRegistry.releaseAll()
  }

  test("prefixJaccardJoin: hand-checkable pairs with integer threshold math") {
    // doc 1 vs 4 differ in the last token only: 12 3-shingles each,
    // 11 shared -> J = 11/13; doc 2 normalizes to doc 1 exactly -> J=1;
    // docs 3/5 match nothing at tau = 1/2
    val got = Dedup.prefixJaccardJoin(corpus, "doc_id", "text", 1, 2)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(got((1L, 2L)) === ((12L, 12L)))
    assert(got((1L, 4L)) === ((11L, 13L)))
    graft.core.CacheRegistry.releaseAll()
  }

  test("prefixJaccardJoin equals brute-force exact join (no false negatives)") {
    // a corpus engineered for overlap: rotations and small edits of a
    // base sentence, so pair Jaccards spread across the threshold
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val docs = (0 until 24).map { i =>
      val rot = (base.drop(i % 5) ++ base.take(i % 5)).toSeq
      val edited = if (i % 3 == 0) rot.updated(4, s"tok$i") else rot
      (i.toLong, edited.mkString(" "))
    }.toDF("doc_id", "text")
    val fast = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 2, 5)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // brute force: exact Jaccard over string 3-shingle sets, all pairs
    val sh = docs.select(col("doc_id"),
      array_distinct(transform(
        sequence(lit(1), size(TextOps.tokens(lower(col("text")))) - 2),
        i => concat_ws(" ",
          slice(TextOps.tokens(lower(col("text"))), i, lit(3))))).as("sh"))
    val brute = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("i"),
        size(array_union(col("a.sh"), col("b.sh"))).cast("long").as("u"))
      .filter(col("i") * 5 >= col("u") * 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(fast === brute)
    assert(brute.nonEmpty, "fixture must actually produce pairs")
    graft.core.CacheRegistry.releaseAll()
  }
}
