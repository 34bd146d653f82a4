package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Multimodal

class MultimodalSpec extends SparkSpec {

  /** Hex string (whitespace ignored) -> bytes, for hand-built payloads. */
  private def hx(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(b => Integer.parseInt(b, 16).toByte).toArray

  private def media = Multimodal.toMediaFrame(
    Tables.documents(spark, sfDir).filter(col("lang") === "en")
      .withColumn("payload", encode(col("text"), "UTF-8")),
    "doc_id", "payload", lit("text"))

  test("media frame carries payload byte count in typed metadata") {
    val rows = media.select(col("meta.n_bytes"),
      length(col("payload")).cast("long")).collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("feature extraction is deterministic and partitioning-invariant") {
    val a = Multimodal.extractFeatures(media, dims = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    val b = Multimodal.extractFeatures(media.repartition(7), dims = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    assert(a == b, "stride-fold features must not depend on partitioning")
    assert(a.values.forall(_.length == 8))
  }

  test("features equal an independently computed stride fold") {
    val doc = Tables.documents(spark, sfDir).filter(col("lang") === "en")
      .select("doc_id", "text").first()
    val bytes = doc.getString(1).getBytes("UTF-8")
    val expected = (0 until 8).map { d =>
      Iterator.from(d, 8).takeWhile(_ < bytes.length)
        .map(i => (bytes(i) & 0xff).toDouble).sum
    }
    val actual = Multimodal.extractFeatures(media, dims = 8)
      .filter(col("media_id") === doc.getLong(0))
      .collect().head.getSeq[Double](2)
    assert(actual == expected)
  }

  test("resize stub branch keeps every Nth byte and rewrites the byte metadata") {
    val doc = Tables.documents(spark, sfDir).filter(col("lang") === "en")
      .select("doc_id", "text").first()
    val bytes = doc.getString(1).getBytes("UTF-8")
    val expected = Iterator.from(0, 4).takeWhile(_ < bytes.length)
      .map(bytes(_)).toSeq
    val row = Multimodal.resize(media, factor = 4)
      .filter(col("media_id") === doc.getLong(0))
      .select(col("payload"), col("meta.n_bytes")).collect().head
    val out = row.getAs[Array[Byte]](0).toSeq
    assert(out == expected, "payload must be the byte-stride downsample")
    assert(row.getLong(1) == expected.length, "metadata must track the new size")
  }

  /** A hand-built 24bpp bottom-up BMP with the given TOP-DOWN pixel
    * rows (each pixel (b, g, r)). */
  private def bmp(pixels: Seq[Seq[(Int, Int, Int)]],
                  padByte: Byte = 0, ppm: Long = 0L): Array[Byte] = {
    val h = pixels.length; val w = pixels.head.length
    val stride = (w * 3 + 3) / 4 * 4
    val out = new Array[Byte](54 + stride * h)
    out(0) = 'B'; out(1) = 'M'
    def le4(i: Int, v: Long): Unit = (0 until 4).foreach(k =>
      out(i + k) = ((v >> (8 * k)) & 0xff).toByte)
    le4(2, 54L + stride * h); le4(10, 54L); le4(14, 40L)
    le4(18, w); le4(22, h); out(26) = 1; out(28) = 24
    le4(30, 0L); le4(34, stride.toLong * h)
    le4(38, ppm); le4(42, ppm) // x/y pixels-per-meter: don't-care bytes
    for (y <- 0 until h; x <- 0 until w) {
      val (b, g, r) = pixels(y)(x)
      val base = 54 + (h - 1 - y) * stride + x * 3
      out(base) = b.toByte; out(base + 1) = g.toByte; out(base + 2) = r.toByte
      for (p <- w * 3 until stride) out(54 + (h - 1 - y) * stride + p) = padByte
    }
    out
  }

  test("BMP lane: decode, box-filter resize and gray features are REAL") {
    import spark.implicits._
    // 3x2 image, known pixels (top-down rows)
    val px = Seq(
      Seq((10, 20, 30), (40, 50, 60), (70, 80, 90)),
      Seq((100, 110, 120), (130, 140, 150), (200, 210, 220)))
    val payload = bmp(px)
    val m = Multimodal.toMediaFrame(
      Seq((1L, payload)).toDF("id", "payload"), "id", "payload", lit("image"))
    // header parse (scan-side) sees the real dimensions
    val meta = m.select(col("meta.width"), col("meta.height")).head()
    assert(meta.getInt(0) === 3 && meta.getInt(1) === 2)
    // resize factor 2: output 2x1; cell (0,0) = mean of the 2x2 block,
    // cell (1,0) = mean of the 1x2 rightmost column block (floor)
    val r = Multimodal.resize(m, factor = 2)
      .select("payload").head().getAs[Array[Byte]](0)
    val hdr = graft.ext.Multimodal.bmpHeader(r)
    assert(hdr.nonEmpty, "resized payload must re-parse as a BMP")
    val (rw, rh, off, rstride) = hdr.get
    assert(rw === 2 && rh === 1)
    def u8(i: Int) = r(i) & 0xff
    // block (0,0): B mean (10+40+100+130)/4 = 70, G 80, R 90
    assert(u8(off) === 70 && u8(off + 1) === 80 && u8(off + 2) === 90)
    // block (1,0): B (70+200)/2 = 135, G 145, R 155
    assert(u8(off + 3) === 135 && u8(off + 4) === 145 && u8(off + 5) === 155)
    // features dims=2: row-major top-down pixel order, two 3-pixel blocks
    val f = Multimodal.extractFeatures(m, dims = 2)
      .select("features").head().getSeq[Double](0)
    val grays = Seq(20.0, 50, 80, 110, 140, 210) // (b+g+r)/3 per pixel
    assert(math.abs(f(0) - grays.take(3).sum / 3) < 1e-12)
    assert(math.abs(f(1) - grays.drop(3).sum / 3) < 1e-12)
    // a resized BMP feeds the pixel operators again (round trip)
    val f2 = Multimodal.extractFeatures(
      Multimodal.resize(m, factor = 2), dims = 1)
      .select("features").head().getSeq[Double](0)
    assert(math.abs(f2.head - (70 + 80 + 90 + 135 + 145 + 155) / 6.0) < 1e-12)
  }

  /** Forward-filter a row the PNG way (encode direction — the spec's
    * independent implementation; Multimodal.pngPixels only decodes).
    * prev is the previous row's RECONSTRUCTED bytes (empty for row 0). */
  private def pngFilterRow(ft: Int, row: Array[Int],
                           prev: Array[Int]): Array[Int] = {
    row.indices.map { x =>
      val left = if (x >= 3) row(x - 3) else 0
      val up = if (prev.nonEmpty) prev(x) else 0
      val ul = if (prev.nonEmpty && x >= 3) prev(x - 3) else 0
      val pred = ft match {
        case 0 => 0
        case 1 => left
        case 2 => up
        case 3 => (left + up) >> 1
        case 4 =>
          val p = left + up - ul
          val pa = math.abs(p - left); val pb = math.abs(p - up)
          val pc = math.abs(p - ul)
          if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
      }
      (row(x) - pred) & 0xff
    }.toArray
  }

  /** Hand-assemble a real PNG: per-row filter types, REAL zlib
    * compression (java.util.zip.Deflater — NOT the stored-block path
    * writePng uses), correct CRC32/adler32. */
  private def pngWithFilters(w: Int, h: Int, rgb: Array[Int],
                             filters: Seq[Int]): Array[Byte] = {
    val stride = w * 3
    val raw = new java.io.ByteArrayOutputStream()
    var prev = Array.empty[Int]
    for (y <- 0 until h) {
      val row = rgb.slice(y * stride, (y + 1) * stride)
      raw.write(filters(y))
      pngFilterRow(filters(y), row, prev).foreach(raw.write)
      prev = row
    }
    val rb = raw.toByteArray
    val comp = new java.io.ByteArrayOutputStream()
    val defl = new java.util.zip.Deflater()
    val dos = new java.util.zip.DeflaterOutputStream(comp, defl)
    dos.write(rb); dos.close()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def be4(v: Long): Unit = (3 to 0 by -1).foreach(k =>
        out.write(((v >> (8 * k)) & 0xff).toInt))
      be4(data.length.toLong)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4); out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data); be4(crc.getValue)
    }
    val ihdr = new Array[Byte](13)
    def ibe4(i: Int, v: Int): Unit = (0 to 3).foreach(k =>
      ihdr(i + k) = ((v >> (8 * (3 - k))) & 0xff).toByte)
    ibe4(0, w); ibe4(4, h); ihdr(8) = 8; ihdr(9) = 2
    chunk("IHDR", ihdr)
    // split the stream across two IDATs: the chunk walk must reassemble
    val cb = comp.toByteArray
    val cut = cb.length / 2
    chunk("IDAT", cb.take(cut)); chunk("IDAT", cb.drop(cut))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  test("PNG lane: real inflate + all four row filters decode exactly") {
    // 3x5 image exercising every filter type (one per row), real
    // Deflater compression, IDAT split in two. The decode must equal
    // the source pixels AND agree with ImageIO — an independent
    // production decoder — on the same bytes.
    val w = 3; val h = 5
    val rgb = Array.tabulate(w * h * 3)(i => (i * 37 + 11) % 256)
    val payload = pngWithFilters(w, h, rgb, Seq(0, 1, 2, 3, 4))
    val px = Multimodal.pngPixels(payload)
    assert(px.nonEmpty, "decoder rejected a valid PNG")
    assert(px.get.map(_ & 0xff).toSeq === rgb.toSeq)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    assert(img.getWidth === w && img.getHeight === h)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = img.getRGB(x, y)
      val base = (y * w + x) * 3
      assert(((argb >> 16) & 0xff) === rgb(base), s"R at ($x,$y)")
      assert(((argb >> 8) & 0xff) === rgb(base + 1), s"G at ($x,$y)")
      assert((argb & 0xff) === rgb(base + 2), s"B at ($x,$y)")
    }
    // malformed inputs are rejected, not crashed
    assert(Multimodal.pngPixels(payload.take(40)).isEmpty)
    assert(Multimodal.pngPixels(null).isEmpty)
    val badFilter = pngWithFilters(w, h, rgb, Seq(0, 1, 2, 3, 4))
    // corrupting compressed bytes must not yield pixels
    badFilter(45) = (badFilter(45) ^ 0x5a).toByte
    // (either inflate fails or the byte count is wrong — both None; a
    // lucky bitflip that still inflates to the right length may decode,
    // so only assert no crash)
    Multimodal.pngPixels(badFilter)
  }

  test("writePng emits valid PNGs: ImageIO and pngPixels agree") {
    val w = 5; val h = 3
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 53 + 7) % 256).toByte)
    val payload = Multimodal.writePng(w, h, rgb)
    // our own decoder round-trips
    assert(Multimodal.pngPixels(payload).get.toSeq === rgb.toSeq)
    // an independent production decoder accepts the stored-deflate
    // zlib stream, the CRCs and the adler32
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    assert(img != null, "ImageIO rejected writePng output")
    assert(img.getWidth === w && img.getHeight === h)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = img.getRGB(x, y)
      val base = (y * w + x) * 3
      assert(((argb >> 16) & 0xff) === (rgb(base) & 0xff))
      assert(((argb >> 8) & 0xff) === (rgb(base + 1) & 0xff))
      assert((argb & 0xff) === (rgb(base + 2) & 0xff))
    }
    // scan-side header parse sees the IHDR dims
    assert(Multimodal.pngHeader(payload).get === ((w, h)))
  }

  test("PNG pixel operators: features match BMP of identical pixels; resize is real") {
    import spark.implicits._
    // same logical pixels as the BMP-lane test, encoded as PNG
    val px = Seq(
      Seq((10, 20, 30), (40, 50, 60), (70, 80, 90)),
      Seq((100, 110, 120), (130, 140, 150), (200, 210, 220)))
    // NOTE: test bmp() helper takes (b, g, r) tuples in BGR channel
    // order; build the PNG from the SAME logical channel values
    val pngBytes = Multimodal.writePng(3, 2,
      px.flatten.flatMap { case (b, g, r) => Seq(r, g, b) }
        .map(_.toByte).toArray)
    val bmpBytes = bmp(px)
    val m = Multimodal.toMediaFrame(
      Seq((1L, pngBytes), (2L, bmpBytes)).toDF("id", "payload"),
      "id", "payload", lit("image"))
    // identical pixels -> identical gray-block features across formats
    val f = Multimodal.extractFeatures(m, dims = 4)
      .orderBy("media_id").select("features")
      .collect().map(_.getSeq[Double](0))
    assert(f(0) === f(1), "cross-format feature divergence")
    // factor-2 resize on the PNG: 2x1 output, floor box means, valid
    // PNG out, meta carries the real output dims
    val r = Multimodal.resize(m.filter(col("media_id") === 1), factor = 2)
    val row = r.select(col("meta.width"), col("meta.height"),
      col("payload")).head()
    assert(row.getInt(0) === 2 && row.getInt(1) === 1)
    val rpx = Multimodal.pngPixels(row.getAs[Array[Byte]](2)).get
      .map(_ & 0xff)
    // block (0,0): channel means over the 2x2 block (floor); block
    // (1,0): over the rightmost 1x2 column — same values as the BMP
    // resize test (channel-order symmetric arithmetic)
    assert(rpx.toSeq === Seq(90, 80, 70, 155, 145, 135))
  }

  test("pixel-content dedup: byte-different encodings of identical pixels merge") {
    import spark.implicits._
    // 3x2 image (w*3 = 9 -> 3 padding bytes per row, so the padding
    // channel is live) encoded twice: zero padding/ppm vs 0xAB padding
    // and 2835-ppm resolution fields — different BYTES, same PIXELS
    val px = Seq(
      Seq((10, 20, 30), (40, 50, 60), (70, 80, 90)),
      Seq((100, 110, 120), (130, 140, 150), (200, 210, 220)))
    val pa = bmp(px)
    val pb = bmp(px, padByte = 0xAB.toByte, ppm = 2835L)
    assert(!java.util.Arrays.equals(pa, pb), "variants must differ as bytes")
    assert(pa.length === pb.length)
    val m = Multimodal.toMediaFrame(
      Seq((1L, pa), (700001L, pb)).toDF("id", "payload"),
      "id", "payload", lit("image"))
    // decoded-pixel features are IDENTICAL across the byte variants...
    val f = Multimodal.extractFeatures(m, dims = 4)
      .orderBy("media_id").select("features")
      .collect().map(_.getSeq[Double](0))
    assert(f(0) === f(1))
    // ...so a content-keyed group collapses the pair to the min id,
    // while the byte variants stay countable inside the group
    val grouped = m
      .join(Multimodal.extractFeatures(m, dims = 4)
        .select(col("media_id"), col("features")), Seq("media_id"))
      .groupBy(col("meta.width"), col("meta.height"), col("features"))
      .agg(min("media_id").as("keeper"),
        count(lit(1)).as("n"), countDistinct(md5(col("payload"))).as("nb"))
      .select("keeper", "n", "nb").head()
    assert(grouped.getLong(0) === 1L)
    assert(grouped.getLong(1) === 2L && grouped.getLong(2) === 2L)
  }

  test("pixel dedup stride is DERIVED: no collision when doc_ids are large") {
    import spark.implicits._
    // The r13 form shifted the second byte-variant's ids by a LITERAL
    // 700000 — green only because fixture doc_ids were far smaller.
    // This fixture's doc_ids straddle that literal (700000 + i), so a
    // literal stride would collide a base id with a shifted id; the
    // derived max(doc_id)+1 stride must keep every media_id unique and
    // every group at exactly (2 members, 2 byte variants).
    val n = 20
    val docs = (0 until n).map(i => (700000L + i, s"t$i", "en", "w", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_pxdedup").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.Registry.queries("ext_mm_pixel_dedup")(
      spark, dir).collect()
    // 20 consecutive doc_ids → distinct residues mod 256/5/4 → no two
    // docs share pixels, so every group is one doc's two variants
    assert(out.length === n)
    assert(out.forall(r => r.getLong(r.fieldIndex("n_members")) === 2L),
      "a collided stride would merge unrelated ids into one group")
    assert(out.forall(r =>
      r.getLong(r.fieldIndex("n_byte_variants")) === 2L))
    val keepers = out.map(_.getLong(0)).sorted
    assert(keepers.toSeq === (0 until n).map(700000L + _))
  }

  test("frame sampling explodes every Nth block") {
    val frames = Multimodal.sampleFrames(media.limit(5), blockBytes = 16, everyNth = 2)
    val idx = frames.select("frame_idx").collect().map(_.getInt(0))
    assert(idx.nonEmpty && idx.forall(_ % 2 == 0))
  }

  test("blockHash64: identical payloads hash equal; banding == brute force") {
    import spark.implicits._
    val ph = Multimodal.blockHash64(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph.nonEmpty)
    // hand-check one hash against an independent computation
    val (someId, someText) = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en").select("doc_id", "text")
      .limit(1).collect().map(r => (r.getLong(0), r.getString(1))).head
    val bytes = someText.getBytes("UTF-8")
    val n = bytes.length
    val total = bytes.map(b => (b & 0xff).toLong).sum
    var expect = 0L
    for (b <- 0 until 64) {
      val s = (b.toLong * n / 64).toInt; val e = ((b + 1).toLong * n / 64).toInt
      val bs = (s until e).map(j => (bytes(j) & 0xff).toLong).sum
      if (bs * n > total * (e - s)) expect |= (1L << b)
    }
    assert(ph(someId) == expect)
    // byte-identical copies pair at hamming 0; banded pair set == brute force
    val m2 = media.limit(30)
    val dup = m2.select((col("media_id") + 900000).as("media_id"),
      col("media_type"), col("payload"), col("meta"))
    val all = m2.unionByName(dup)
    val pairs = Multimodal.nearDupMedia(all, maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val zero = pairs.filter(p => p._2 == p._1 + 900000)
    assert(zero.length == 30 && zero.forall(_._3 == 0L),
      "every identical copy must pair with its original at hamming 0")
    val hashes = Multimodal.blockHash64(all)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(pairs.toSet == brute, "banded candidates must lose no pair <= hamming 3")
  }

  test("incrementalNearDupMedia: base drops, self-dedup to lower id, novel survives") {
    import spark.implicits._
    def mediaOf(rows: Seq[(Long, String)]) = Multimodal.toMediaFrame(
      rows.toDF("id", "text").withColumn("payload", encode(col("text"), "UTF-8")),
      "id", "payload", lit("image"))
    val base = mediaOf(Seq((1L, "the quick brown fox jumps over the lazy dog")))
    val batch = mediaOf(Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),  // = base -> drop
      (11L, "a completely different payload with other bytes inside it"),
      (12L, "a completely different payload with other bytes inside it"), // dup of 11
      (13L, "yet another unrelated body of bytes that shares nothing at all")))
    val surv = Multimodal.incrementalNearDupMedia(batch,
        Multimodal.blockHash64(base), maxHamming = 3, bands = 4)
      .as[Long].collect().toSet
    assert(surv == Set(11L, 13L),
      "base content drops, the batch twin collapses to its lower id, novel stays")
  }

  test("payload-sized repartitioning yields ceil(bytes/target) partitions") {
    val df = Multimodal.repartitionForPayload(media, totalBytes = 1000000,
      targetPartitionBytes = 300000)
    assert(df.rdd.getNumPartitions == 3)
  }

  test("mediaMeta parses real PNG/JPEG/WAV headers and nulls everything else") {
    import spark.implicits._
    // PNG: signature + IHDR, width 260 (0x104), height 33 (0x21)
    val png = hx("89504E470D0A1A0A 0000000D 49484452" +
      " 00000104 00000021 0802000000 00000000 AABBCC")
    // JPEG: SOI, APP0(JFIF), a 5-byte COM, DQT of 4 bytes, then SOF2
    // (height 0x0140=320, width 0x00F0=240) — SOF is 3 segments deep, so
    // only a real segment walk finds it
    val jpeg = hx("FFD8 FFE000104A46494600010100000100010000" +
      " FFFE0005414243 FFDB0004AAAA" +
      " FFC2001108 0140 00F0 03011100021101031101 FFDA00" )
    // WAV: RIFF/WAVE, an ODD-sized junk chunk (pad byte exercised), fmt
    // (byte rate 32000), data of 16000 bytes declared (only size matters
    // to the walk) -> duration = 16000*1000/32000 = 500 ms
    val wav = hx("52494646 00000000 57415645" +
      " 4A554E4B 03000000 414243 00" + // "JUNK" size 3 + pad
      " 666D7420 10000000 0100 0100 803E0000 007D0000 0200 1000" +
      " 64617461 803E0000") ++ Array.fill(16)(1.toByte)
    // garbage + truncated PNG (signature only) + empty
    val garbage = "not a media file at all".getBytes("UTF-8")
    val shortPng = hx("89504E470D0A1A0A")
    val rows = Seq(
      (1L, png), (2L, jpeg), (3L, wav), (4L, garbage), (5L, shortPng))
      .toDF("id", "payload")
      .select(col("id"), Multimodal.mediaMeta(col("payload")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"),
        col("m.duration_ms"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
      .toMap
    assert(rows(1L) == (("png", Some(260), Some(33), None)), s"png: ${rows(1L)}")
    assert(rows(2L) == (("jpeg", Some(240), Some(320), None)), s"jpeg: ${rows(2L)}")
    assert(rows(3L) == (("wav", None, None, Some(500L))), s"wav: ${rows(3L)}")
    assert(rows(4L) == ((null, None, None, None)), s"garbage: ${rows(4L)}")
    assert(rows(5L) == ((null, None, None, None)), s"short png: ${rows(5L)}")
  }

  test("mediaMeta: legal 0xFF fill bytes before a marker are skipped, not misread") {
    import spark.implicits._
    // SOI, COM of 4 bytes, then THREE 0xFF fill bytes before the SOF0
    // marker (JPEG permits any number of fill FFs) — a walk that treats
    // the padding as a segment header jumps to a garbage offset
    val jpeg = hx("FFD8 FFFE0004AAAA FFFFFF" +
      " FFC0001108 0021 0104 03011100021101031101 FFDA00")
    val out = Seq((1L, jpeg)).toDF("id", "payload")
      .select(Multimodal.mediaMeta(col("payload")).as("m"))
      .select(col("m.format"), col("m.width"), col("m.height")).head()
    assert(out.getString(0) == "jpeg" && out.getInt(1) == 260 &&
      out.getInt(2) == 33, s"fill-byte jpeg: $out")
  }

  test("mediaMeta walk bounds: SOF beyond 24 segments yields nulls, not a wrong read") {
    import spark.implicits._
    // 30 consecutive 4-byte COM segments before the SOF: the bounded
    // walk must give up cleanly (null dims), never misparse
    val deep = hx("FFD8" + "FFFE0002" * 30 +
      " FFC0001108 0010 0010 03011100021101031101")
    val out = Seq((1L, deep)).toDF("id", "payload")
      .select(Multimodal.mediaMeta(col("payload")).as("m"))
      .select(col("m.format"), col("m.width")).head()
    assert(out.getString(0) == "jpeg" && out.isNullAt(1),
      "bounded walk exhausts -> jpeg magic recognized, dims null")
  }
}
