package graft

import org.apache.spark.sql.functions._
import graft.expr.{MetricExpr, QualityExpr, TimeExpr}
import graft.pipelines.CongestionMarts

/**
 * Invariants mirroring the reference's dbt schema tests
 * (reference `5_dbt/READ.md:296-381,734-782`, SURVEY §5.2).
 */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("congestion_index ∈ [0,1] ∪ {NULL} on edge inputs (5_dbt/READ.md:746-748)") {
    // (volume, speed, limit, lanes) edge cases incl. the macro branches:
    // NULL speed → NULL, speed<=0 → 1.0, limit 0 → NULL factor → NULL
    val rows = Seq(
      (1000d, Option(50d), 60d, 2d), (1000d, None, 60d, 2d),
      (1000d, Option(0d), 60d, 2d), (1000d, Option(-5d), 60d, 2d),
      (1000d, Option(30d), 0d, 2d), (99999d, Option(1d), 60d, 1d),
      (0d, Option(59d), 60d, 3d))
    val df = rows.toDF("volume", "speed", "limit", "lanes")
      .withColumn("ci", MetricExpr.congestionIndex(
        col("volume"), col("speed"), col("limit"), col("lanes")))
    val cis = df.select("ci").collect().map(r => Option(r.get(0)).map(_.toString.toDouble))
    assert(cis.forall(_.forall(v => v <= 1.0)),
      "congestion index must be clamped at 1.0")
    // NULL speed and zero speed-limit propagate NULL, not 0
    assert(cis(1).isEmpty, "NULL speed must yield NULL")
    assert(cis(4).isEmpty, "speed_limit 0 must yield NULL")
    // speed <= 0 branch pins max congestion
    assert(cis(2).contains(1.0) && cis(3).contains(1.0))
  }

  test("repetitionRatio: 0 for short/unique docs, high for looped text") {
    val df = Seq(
      (1L, "one"),                               // shorter than n -> 0
      (2L, "all words here are unique tokens"),  // no repeats -> 0
      (3L, "ha ha ha ha ha ha ha ha"))           // one distinct 2-gram
      .toDF("id", "text")
      .select(col("id"), graft.ext.TextOps.repetitionRatio(col("text"), 2).as("r"))
    val r = df.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 0.0 && r(2L) == 0.0)
    assert(r(3L) > 0.8, "looped text must score near 1")
  }

  test("qualityScoreFast is bit-identical to the Column form on the corpus") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((900001L, ""), (900002L, "  x  "),
        (900003L, "the the the!!! ...")).toDF("doc_id", "text"))
    val both = docs.select(
      graft.ext.TextOps.qualityScore(col("text")).as("col_form"),
      graft.ext.TextOps.qualityScoreFast(col("text")).as("fast_form"))
    assert(both.filter(col("col_form") =!= col("fast_form")).count() == 0)
  }

  test("langIdFast is identical to the Column form on the corpus + edge cases") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (900001L, ""),                       // zero tokens -> und
        (900002L, "   "),                    // whitespace-only -> und
        (900003L, "zzz qqq xxx"),            // no marker hits -> und
        (900004L, "la la"),                  // fr/es shared marker tie
        (900005L, "the le el der 的"),       // 5-way single-hit tie
        (900006L, "THE And OF"),             // case folding
        (900007L, "el los y es en para"),    // clear es
        (900008L, "的 是 在 了"),             // zh markers
        (900009L, "le\tla\nles et"),         // tabs/newlines split
        (900010L, null.asInstanceOf[String]) // null text
      ).toDF("doc_id", "text"))
    val both = docs.select(
      graft.ext.TextOps.langId(col("text")).as("col_form"),
      graft.ext.TextOps.langIdFast(col("text")).as("fast_form"))
    assert(both.filter(!(col("col_form") <=> col("fast_form"))).count() == 0)
  }

  test("typed BMP/PNG payload builders are byte-identical to the Column forms") {
    // fixture ids + a dense range covering every (w, h) geometry, both
    // row parities, pad widths 0..3 and all byte-value phases
    val ids = graft.core.Tables.documents(spark, sfDir).select(col("doc_id"))
      .unionByName(spark.range(0, 2000).select(col("id").as("doc_id")))
    val cmp = ids.select(
      graft.queries.ExtMultimodalQueries.bmpPayloadColumnForm()
        .as("bmp_col"),
      graft.queries.ExtMultimodalQueries.bmpPayloadFast().as("bmp_fast"),
      graft.queries.ExtMultimodalQueries
        .bmpPayloadColumnForm(padHex = "ABABAB", pelsPerMeter = 2835L)
        .as("bmp2_col"),
      graft.queries.ExtMultimodalQueries
        .bmpPayloadFast(padHex = "ABABAB", pelsPerMeter = 2835L)
        .as("bmp2_fast"),
      graft.queries.ExtMultimodalQueries.pngPayloadColumnForm()
        .as("png_col"),
      graft.queries.ExtMultimodalQueries.pngPayloadFast().as("png_fast"))
    assert(cmp.filter(md5(col("bmp_col")) =!= md5(col("bmp_fast"))
        || md5(col("bmp2_col")) =!= md5(col("bmp2_fast"))
        || md5(col("png_col")) =!= md5(col("png_fast"))).count() == 0)
  }

  test("tokenEntropy: 0 for constant docs, ln(n) for all-distinct docs") {
    val df = Seq(
      (1L, "spam spam spam spam"),       // one symbol -> H = 0
      (2L, "a b c d e f g h"),           // 8 distinct -> H = ln 8
      (3L, "x x y y"))                   // two equal halves -> H = ln 2
      .toDF("id", "text")
    val h = graft.ext.TextOps.tokenEntropyFrame(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(h(1L) == 0.0)
    assert(math.abs(h(2L) - math.log(8)) < 1e-5)
    assert(math.abs(h(3L) - math.log(2)) < 1e-5)
  }

  test("lmScore: repeated transitions score higher than one-off transitions") {
    val df = Seq(
      (1L, "a b a b a b a b"),   // a->b and b->a dominate the corpus
      (2L, "a q"),               // a->q is a one-off given a's many exits
      (3L, "a b a b"))
      .toDF("id", "text")
    val s = graft.ext.TextOps.lmScoreFrame(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(1L) > s(2L), "frequent bigrams must outscore rare ones")
    // doc with < 2 tokens has no bigrams and must be absent
    val single = graft.ext.TextOps.lmScoreFrame(
      Seq((9L, "solo")).toDF("id", "text"), "id", "text").count()
    assert(single == 0L)
  }

  test("knScore: hand-computed interpolated Kneser-Ney probabilities") {
    // corpus: doc1 "a b a b", doc2 "a c"
    // cb: (a,b)=2 (b,a)=1 (a,c)=1 → 3 types; cu: a(c1=3,t1=2) b(1,1);
    // ct: a=1 b=1 c=1; tot=3; D=0.75
    val df = Seq((1L, "a b a b"), (2L, "a c")).toDF("id", "text")
    val out = graft.ext.TextOps.knScoreFrame(df, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def p(c2: Long, c1: Long, t1: Long, t2: Long, tot: Long): Double =
      math.max(c2.toDouble - 0.75, 0.0) / c1 +
        0.75 * t1 / c1 * (t2.toDouble / tot)
    val pba = p(2, 3, 2, 1, 3) // P(b|a)
    val pab = p(1, 1, 1, 1, 3) // P(a|b)
    val pca = p(1, 3, 2, 1, 3) // P(c|a)
    def r6(x: Double): Double =
      BigDecimal(x + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == 3L)
    assert(out(1L)._2 ==
      r6((math.log(pba) + math.log(pab) + math.log(pba)) / 3))
    assert(out(2L) == ((1L, r6(math.log(pca)))))
    // degenerate single-bigram corpus: P = (1-D)/1 + D·1·1 = 1 → ln = 0
    val solo = graft.ext.TextOps.knScoreFrame(
      Seq((1L, "a b")).toDF("id", "text"), "id", "text").head()
    assert(solo.getDouble(2) == 0.0)
  }

  test("TopKBuffer equals sort-then-take for random inputs, any k") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 50) {
      val k = 1 + rnd.nextInt(8)
      val n = rnd.nextInt(40)
      // duplicate scores on purpose: the id tiebreak must decide; ids
      // distinct to mirror the exec's contract (one offer per vector).
      // NaN scores rank first (Spark's double order) and NULL ids (None)
      // before every id (ASC NULLS FIRST).
      val xs = Seq.fill(n)((
          if (rnd.nextInt(10) == 0) Double.NaN else rnd.nextInt(5).toDouble / 4d,
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(1000).toLong)))
        .distinctBy(_._2)
      val buf = new graft.plans.TopKBuffer(k)
      xs.foreach { case (s, id) => buf.offer(s, id.isEmpty, id.getOrElse(0L)) }
      val got = scala.collection.mutable.ArrayBuffer.empty[(Double, Option[Long])]
      buf.foreach((s, z, id) => got += ((s, if (z) None else Some(id))))
      val want = xs.sortBy { case (s, id) =>
        (if (s.isNaN) Double.NegativeInfinity else -s, id.getOrElse(Long.MinValue)) }.take(k)
      assert(got.toList.map(_.toString) == want.toList.map(_.toString), s"trial $trial k=$k")
    }
  }

  test("topKPerKey (long AND string ids) equals the rank window on random data") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val k = 1 + rnd.nextInt(4)
      val rows = Seq.fill(120)((
        s"g${rnd.nextInt(4)}",
        rnd.nextInt(6).toDouble / 5d,
        rnd.nextInt(10000).toLong)).distinctBy(r => (r._1, r._3))
      val df = rows.toDF("grp", "score", "id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy(desc("score"), col("id"))
      def winSet(d: org.apache.spark.sql.DataFrame) = d
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .drop("rn").collect().map(_.toString).toSet
      val aggSet = graft.functions.TopKAggregator
        .topKPerKey(df, Seq("grp"), col("score"), col("id"), k)
        .select(col("grp"), col("score"), col("id")).collect()
        .map(_.toString).toSet
      assert(aggSet == winSet(df), s"long-id trial $trial k=$k")
      // same data with STRING ids (zero-padded so lexicographic ==
      // numeric order and the window agrees)
      val dfs = rows.map(r => (r._1, r._2, f"${r._3}%05d"))
        .toDF("grp", "score", "id")
      val aggSetS = graft.functions.TopKAggregator
        .topKPerKey(dfs, Seq("grp"), col("score"), col("id"), k)
        .select(col("grp"), col("score"), col("id")).collect()
        .map(_.toString).toSet
      assert(aggSetS == winSet(dfs), s"string-id trial $trial k=$k")
    }
  }

  test("tti/pti ratios: tt85 >= tt50 > 0 implies tti >= 1") {
    val df = Seq((100d, 120d, 150d), (50d, 50d, 50d), (10d, 99d, 100d))
      .toDF("tt50", "tt85", "tt95")
      .withColumn("tti", MetricExpr.tti(col("tt85"), col("tt50")))
      .withColumn("pti", MetricExpr.pti(col("tt95"), col("tt50")))
    df.collect().foreach { r =>
      assert(r.getDouble(3) >= 1.0 && r.getDouble(4) >= r.getDouble(3))
    }
  }

  test("sanitizeRange maps out-of-range to NULL and nothing else (5_dbt/READ.md:170-179)") {
    val df = Seq(-1d, 0d, 50d, 120d, 121d).toDF("v")
      .withColumn("clean", QualityExpr.sanitizeRange(col("v"), 0, 120))
    val out = df.collect().map(r => (r.getDouble(0), Option(r.get(1))))
    assert(out.toMap == Map(-1d -> None, 0d -> Some(0d), 50d -> Some(50d),
      120d -> Some(120d), 121d -> None))
  }

  test("period classifier: Tue-Sat quirk faithful to 1_AWS/README.md:79-91") {
    val df = Seq(
      "2024-01-02 07:00:00", // Tuesday 7am  -> amp
      "2024-01-01 07:00:00", // Monday 7am   -> we (the reference quirk)
      "2024-01-06 12:00:00", // Saturday noon-> mid (Tue-Sat weekday!)
      "2024-01-07 12:00:00", // Sunday noon  -> we
      "2024-01-02 23:00:00"  // Tuesday 11pm -> NULL (overnight)
    ).toDF("s").withColumn("p", TimeExpr.period(to_timestamp(col("s"))))
    val out = df.select("p").collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("amp"), Some("we"), Some("mid"), Some("we"), None))
  }

  test("daily-rankings mart: rank ∈ [1,10] and severity labels valid (5_dbt/READ.md:753-755)") {
    val m = CongestionMarts.martDailyRankings(spark, sfDir).collect()
    assert(m.nonEmpty)
    val rankIdx = CongestionMarts.martDailyRankings(spark, sfDir).columns
      .indexOf("congestion_rank")
    assert(m.forall { r =>
      val rk = r.getLong(rankIdx)
      rk >= 1 && rk <= 10
    })
    val sevIdx = CongestionMarts.martDailyRankings(spark, sfDir).columns
      .indexOf("congestion_severity")
    val allowed = Set("Severe", "High", "Moderate", "Low")
    assert(m.forall(r => allowed(r.getString(sevIdx))))
  }

  test("hourly-patterns mart: percent_rank ∈ [0,1], hour ∈ [0,23] (5_dbt/READ.md:764-770)") {
    val df = CongestionMarts.martHourlyPatterns(spark, sfDir)
    val cols = df.columns
    val rows = df.collect()
    val hIdx = cols.indexOf("hour_of_day"); val pIdx = cols.indexOf("congestion_pctile")
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      r.getLong(hIdx) >= 0 && r.getLong(hIdx) <= 23 &&
        r.getDouble(pIdx) >= 0.0 && r.getDouble(pIdx) <= 1.0
    })
  }

  test("removeBoilerplate strips repeated sentences everywhere, keeps " +
      "organics in order, and survives empty/all-boilerplate docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val footer = "All rights reserved."
    val docs = Seq(
      (1L, s"Unique alpha content. $footer Unique beta tail."),
      (2L, s"Different gamma sentence! $footer"),
      (3L, s"$footer"), // all-boilerplate -> empty clean text
      (4L, "Nothing repeated here at all."),
      (5L, "")) // segments to nothing
      .toDF("doc_id", "text")
    val out = graft.ext.TextOps.removeBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("Unique alpha content. Unique beta tail.", 1L, 3L)))
    assert(out(2L) == (("Different gamma sentence!", 1L, 2L)))
    assert(out(3L) == (("", 1L, 1L)))
    assert(out(4L) == (("Nothing repeated here at all.", 0L, 1L)))
    assert(out(5L) == (("", 0L, 0L)))
    // below the threshold nothing is removed
    val none = graft.ext.TextOps.removeBoilerplate(docs, "doc_id", "text", minDocs = 4)
      .agg(sum("n_removed")).head().getLong(0)
    assert(none == 0L)
  }

  test("repetitionSignals: hand-computed line/bigram/ngram fractions; " +
      "clean and degenerate docs zero-fill") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      // three sentences, one duplicated (case-insensitively):
      // "same line." x2 (10 chars lowered) + "other one." (10 chars)
      // -> dup_line_frac 2/3, dup_line_char_frac 20/30. All bigrams tie
      // at count 1 -> lexicographic min "Other one." (9 tok chars) over
      // tok_chars 27 -> 0.333333
      (1L, "Same line. same line. Other one."),
      // bigram "a b" appears 3x in "a b a b a b": tokens 6, tok_chars 6,
      // top bigram = 3 occurrences x 2 chars / 6 = 1.0 (overlap can push
      // this above 1 - Gopher's stat shares that property); 5-gram
      // windows "a b a b a" @1 and "b a b a b" @2 unique -> dup_ngram 0
      (2L, "a b a b a b"),
      // 5-token phrase repeated verbatim: windows @1..@6 of
      // "p q r s t p q r s t" -> @1 == @6 repeat -> covered [1,6)+[6,11)
      // contiguous = 10 of 10 tokens
      (3L, "p q r s t p q r s t"),
      (4L, "totally unique clean words only here"),
      (5L, ""))
      .toDF("doc_id", "text")
    val out = graft.ext.TextOps.repetitionSignals(docs, "doc_id", "text", ngram = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(out(1L) == ((3L, 0.666667, 0.666667, 0.333333, 0.0)), s"got ${out(1L)}")
    assert(out(2L)._1 == 1L && out(2L)._4 == 1.0 && out(2L)._5 == 0.0,
      s"got ${out(2L)}")
    assert(out(3L)._5 == 1.0, s"got ${out(3L)}")
    assert(out(4L) == ((1L, 0.0, 0.0,
      out(4L)._4, 0.0)) && out(4L)._4 > 0.0, s"got ${out(4L)}")
    assert(out(5L) == ((0L, 0.0, 0.0, 0.0, 0.0)), s"got ${out(5L)}")
  }

  test("blocklistGate: case-insensitive occurrence counts; frame form identical") {
    import graft.ext.TextOps
    val docs = Seq(
      (1L, "Slow merge SLOW again"),        // 2x slow + 1x merge
      (2L, "clean document nothing here"),  // zero hits
      (3L, ""),                             // empty
      (4L, "slowness is not slow-ness"))    // substrings must NOT match
      .toDF("doc_id", "text")
    val lit_ = TextOps.blocklistGate(docs, "doc_id", "text",
        Seq("slow", "Merge"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(lit_ == Map(1L -> ((3L, true)), 2L -> ((0L, false)),
      3L -> ((0L, false)), 4L -> ((0L, false))))
    val terms = Seq("slow", "Merge").toDF("term")
    val frame = TextOps.blocklistGateFrame(docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(frame == lit_, "frame variant must be row-identical to the literal form")
  }

  test("gopherGate keeps exactly the docs ext_gopher_rules marks passing") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val gated = graft.ext.TextOps.gopherGate(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val passing = graft.queries.Registry.queries("ext_gopher_rules")(spark, sfDir)
      .filter(col("passes")).select("doc_id").as[Long].collect().toSet
    assert(gated == passing,
      "the reusable gate and the registered rule query must agree doc for doc")
  }

  test("crossDupNgramFraction: exact twins hit 1.0, unique docs 0.0, short docs fall back") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),   // trigrams shared with its twin only
      (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta"),   // all trigrams unique corpus-wide
      (4L, "hi"),                       // < n tokens: whole text is the gram
      (5L, "hi"))
      .toDF("doc_id", "text")
    val out = graft.ext.TextOps.crossDupNgramFraction(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((2L, 1.0)) && out(2L) == ((2L, 1.0)), s"got $out")
    assert(out(3L) == ((2L, 0.0)), s"got ${out(3L)}")
    assert(out(4L) == ((1L, 1.0)) && out(5L) == ((1L, 1.0)),
      "short docs share their whole-text fallback gram")
  }

  test("collocations: PMI rewards co-occurrence beyond independence, bounded vocab") {
    import spark.implicits._
    // 'salt'/'pepper' always co-occur (4 of 8 docs); 'salt'/'water'
    // co-occur at chance. skip=0, vocab covers everything frequent.
    val docs = (
      (1 to 4).map(i => (i.toLong, s"salt pepper water filler$i")) ++
      (5 to 8).map(i => (i.toLong, s"water stone filler$i extra$i"))
    ).toDF("doc_id", "text")
    val m = graft.ext.TextOps.collocations(docs, "doc_id", "text",
        vocab = 4, skip = 0, minPairs = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    // salt∧pepper: 4·8/(4·4) = 2 → ln 2; salt∧water: 4·8/(4·8) = 1 → 0
    assert(math.abs(m(("pepper", "salt")) - math.log(2)) < 1e-5)
    assert(math.abs(m(("salt", "water"))) < 1e-5)
    graft.core.CacheRegistry.releaseAll()
  }
}
