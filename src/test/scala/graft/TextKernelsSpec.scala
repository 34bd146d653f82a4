package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.{Dedup, TextOps}

/**
 * The codegen'd text kernels against the built-in expression forms they
 * replace: `graft_sorted_jaccard` ≡ `size(array_intersect)/size(array_union)`,
 * `graft_word_stats` ≡ the `explode` + two-`groupBy` word stats, and the
 * typed MinHash frame's shingles and band keys ≡ the old string-building
 * shingler and the Column-form signature/banding. Each comparison runs
 * with and without codegen.
 */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `f` under whole-stage codegen, then with codegen off (the
    * kernels' interpreted `eval` paths). */
  private def bothModes(f: => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    f
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      f
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val ArrLong = ArrayType(LongType, containsNull = true)

  /** Generated array<bigint> pairs: sorted distinct, unsorted with
    * duplicates, with NULL elements, and empty on one side. */
  private def pairs(): DataFrame = {
    val rnd = new scala.util.Random(7)
    def values(n: Int): Seq[java.lang.Long] = Seq.fill(n) {
      val v: Long = rnd.nextInt(10) match {
        case 0 => Long.MinValue
        case 1 => Long.MaxValue
        case _ => rnd.nextInt(24).toLong - 12
      }
      java.lang.Long.valueOf(v)
    }
    def withNulls(xs: Seq[java.lang.Long]): Seq[java.lang.Long] =
      xs.map(x => if (rnd.nextInt(4) == 0) null else x)
    def sortedSet(n: Int): Seq[java.lang.Long] =
      values(n).map(_.longValue).distinct.sorted.map(java.lang.Long.valueOf)
    val rows = (0 until 400).map { i =>
      val (a, b) = i % 6 match {
        case 0 => (sortedSet(1 + rnd.nextInt(12)), sortedSet(1 + rnd.nextInt(12)))
        case 1 => (values(1 + rnd.nextInt(12)), values(1 + rnd.nextInt(12)))
        case 2 => (withNulls(values(1 + rnd.nextInt(8))), withNulls(values(1 + rnd.nextInt(8))))
        case 3 => (sortedSet(1 + rnd.nextInt(12)), withNulls(sortedSet(1 + rnd.nextInt(12))))
        case 4 => (Seq.empty[java.lang.Long], values(1 + rnd.nextInt(6)))
        case _ => (sortedSet(1 + rnd.nextInt(6)), Seq.empty[java.lang.Long])
      }
      Row(i.toLong, a, b)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("i", LongType), StructField("a", ArrLong), StructField("b", ArrLong))))
  }

  test("graft_sorted_jaccard equals size(array_intersect)/size(array_union)") {
    val df = pairs()
    bothModes {
      val out = df.select(col("i"),
          Dedup.jaccard(col("a"), col("b")).as("k"),
          (size(array_intersect(col("a"), col("b"))).cast("double") /
            size(array_union(col("a"), col("b"))).cast("double")).as("r"))
        .collect()
      assert(out.length == 400)
      out.foreach { r =>
        assert(!r.isNullAt(1) && r.getDouble(1) == r.getDouble(2),
          s"pair ${r.getLong(0)}: kernel ${r.get(1)} vs array functions ${r.get(2)}")
      }
      // the merge is symmetric, and NULL in, NULL out
      val sym = df.select(Dedup.jaccard(col("a"), col("b")) === Dedup.jaccard(col("b"), col("a")))
        .as[Boolean].collect()
      assert(sym.forall(identity))
      val nulls = Seq[(Option[Seq[Long]], Option[Seq[Long]])](
          (None, Some(Seq(1L))), (Some(Seq.empty), Some(Seq.empty)))
        .toDF("a", "b").select(Dedup.jaccard(col("a"), col("b"))).collect()
      assert(nulls.forall(_.isNullAt(0)),
        "a NULL array or an empty union has no Jaccard")
    }
  }

  private val edgeTexts = Seq(
    "a\tb\u000Bc\fd\re\nf  a",
    "  leading and trailing spaces  ",
    "\u0001edge controls\u0001 trimmed \u0002",
    "😀 😀 𝔘𝔫𝔦 café Café",
    "x y z\u0085w \u001cq",
    "dup dup dup DUP Dup",
    "İstanbul ISTANBUL istanbul",
    "one",
    "two words",
    "   \t\n\u000B\f\r ",
    "")

  /** Fixture documents plus the edge texts (and one NULL text). */
  private def docs(): DataFrame = {
    val edge = (edgeTexts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (900000L + i, t) }.toDF("doc_id", "text")
    graft.core.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .unionByName(edge)
  }

  test("graft_word_stats equals the explode + two-groupBy word stats") {
    val d = docs()
    val viaExplode = d.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n"),
        sum(length(col("tok")) * col("c")).as("len"), max(col("c")).as("mm"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val all = d.select("doc_id").as[Long].collect().toSet
    bothModes {
      val ws = d.select(col("doc_id"), TextOps.wordStats(col("text")).as("ws"))
      val stats = ws.filter(col("ws").isNotNull)
        .select(col("doc_id"), col("ws.n_words"), col("ws.sum_len"), col("ws.max_mult"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(stats == viaExplode)
      val nullIds = ws.filter(col("ws").isNull).select("doc_id").as[Long].collect().toSet
      assert(nullIds == all -- viaExplode.map(_._1))
      assert(Set(900009L, 900010L, 900011L).subsetOf(nullIds),
        "all-whitespace, empty and NULL text have no stats")
    }
  }

  /** The shingler the typed frame replaced: lowercase, trim, split on
    * `\s+`, one splitmix64/FNV hash per space-joined k-token string. */
  private def stringShingles(text: String, k: Int): Set[Long] = {
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def hash64(s: String): Long = s.foldLeft(0xcbf29ce484222325L)((h, c) => mix64(h ^ c.toLong))
    val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < k) Set(hash64(toks.mkString(" ")))
    else toks.sliding(k).map(w => hash64(w.mkString(" "))).toSet
  }

  test("typed MinHash frame: shingles and band keys equal the string shingler " +
      "and bandHashes(minhashSignature(shingles))") {
    val d = docs().filter(col("text").isNotNull)
    val (bandT, shT) = Dedup.nearDupIndex(d, "doc_id", "text", numHashes = 64, bands = 32)
    val texts = d.as[(Long, String)].collect().toMap
    shT.as[(Long, Seq[Long])].collect().foreach { case (id, sh) =>
      assert(sh == sh.sorted.distinct, s"doc $id: shingles must be sorted and distinct")
      assert(sh.toSet == stringShingles(texts(id), 3), s"doc $id: shingle hashes moved")
    }
    val typed = bandT.as[(Long, Int, Long)].collect().toSet
    bothModes {
      val viaColumns = shT.select(col("doc_id"), explode(Dedup.bandHashes(
          Dedup.minhashSignature(col("shingles"), 64), 32, 2)).as("b"))
        .select(col("doc_id"), col("b.band"), col("b.bh"))
        .as[(Long, Int, Long)].collect().toSet
      assert(typed.size == texts.size * 32)
      assert(typed == viaColumns)
    }
  }
}
