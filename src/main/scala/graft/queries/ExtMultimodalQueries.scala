package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Bpe, Chunking, Classifier, Corpus, Dedup, Multimodal, Similarity, TextOps}
import ExtQueries._

/**
 * Multimodal registry rows: opaque binary payloads with typed
 * metadata — decode/resize/frame-sample/feature plumbing.
 *
 * Split from ExtQueries by family (zero behavior change) — shared
 * fixture builders and DuckDB oracle fragments stay in [[ExtQueries]].
 */
object ExtMultimodalQueries {

  import org.apache.spark.sql.Column

  /** Big-endian unsigned int as `bytes` binary (network/PNG/JPEG order). */
  private def beBin(v: Column, bytes: Int): Column =
    unhex(lpad(hex(v), bytes * 2, "0"))

  /** Little-endian unsigned int as `bytes` binary (RIFF/WAV order). */
  private def leBin(v: Column, bytes: Int): Column = {
    val h = lpad(hex(v), bytes * 2, "0")
    unhex(concat((bytes - 1 to 0 by -1).map(i => substring(h, i * 2 + 1, 2)): _*))
  }

  /** Fixture payloads with REAL format headers, one format per doc_id%3:
    * PNG (signature + IHDR with big-endian dims + text body), JPEG (SOI,
    * APP0/JFIF, a COM segment of doc-varying length so the SOF position
    * is NOT fixed and the parser's segment walk is actually exercised,
    * SOF0 or SOF2 by parity, SOS + body + EOI), WAV (RIFF/WAVE; odd ids
    * interpose a LIST chunk before fmt so the chunk walk is exercised;
    * fmt carries a doc-derived sample rate/channels, data carries an
    * even doc-derived byte count). Every field is derived from doc_id
    * and the text bytes only, so the DuckDB oracle rebuilds the SAME
    * bytes and parses them back with the same walks. */
  private def realHeaderPayload(): Column = {
    val id = col("doc_id")
    val tb = encode(col("text"), "UTF-8")
    val tlen = length(tb).cast("long")
    // PNG: dims from doc_id
    val pw = (id % 640 + 16).cast("long")
    val ph = (id % 480 + 16).cast("long")
    val png = concat(unhex(lit("89504E470D0A1A0A")), unhex(lit("0000000D")),
      encode(lit("IHDR"), "UTF-8"), beBin(pw, 4), beBin(ph, 4),
      unhex(lit("0802000000")), unhex(lit("00000000")), tb)
    // JPEG: COM length varies by doc; SOF marker C0/C2 by parity
    val jw = (id % 512 + 8).cast("long")
    val jh = (id % 384 + 8).cast("long")
    val comLen = least(id % 40 + 1, tlen).cast("long")
    val jpeg = concat(unhex(lit("FFD8")),
      unhex(lit("FFE000104A46494600010100000100010000")),
      unhex(lit("FFFE")), beBin(comLen + 2, 2),
      tb.substr(lit(1), comLen.cast("int")),
      unhex(when(id % 2 === 0, "FFC0").otherwise(lit("FFC2"))),
      unhex(lit("0011")), unhex(lit("08")), beBin(jh, 2), beBin(jw, 2),
      unhex(lit("03")), unhex(lit("011100021101031101")),
      unhex(lit("FFDA")), tb, unhex(lit("FFD9")))
    // WAV: sample geometry from doc_id; data bytes = even prefix of text
    val ch = (id % 2 + 1).cast("long")
    val sr = (id % 8 * 1000 + 8000).cast("long")
    val br = sr * ch * 2
    val dataSz = (least(tlen, lit(2000L)) / 2).cast("long") * 2
    val listLen = least((id % 20) * 2 + 4, dataSz).cast("long") // even
    val listChunk = concat(encode(lit("LIST"), "UTF-8"), leBin(listLen, 4),
      tb.substr(lit(1), listLen.cast("int")))
    val fmtChunk = concat(encode(lit("fmt "), "UTF-8"), leBin(lit(16L), 4),
      leBin(lit(1L), 2), leBin(ch, 2), leBin(sr, 4), leBin(br, 4),
      leBin(ch * 2, 2), leBin(lit(16L), 2))
    val dataChunk = concat(encode(lit("data"), "UTF-8"), leBin(dataSz, 4),
      tb.substr(lit(1), dataSz.cast("int")))
    val hasList = id % 2 === 1
    val wav = concat(encode(lit("RIFF"), "UTF-8"),
      leBin(when(hasList, listLen + 8).otherwise(lit(0L)) + 36 + dataSz, 4),
      encode(lit("WAVE"), "UTF-8"),
      when(hasList, concat(listChunk, fmtChunk, dataChunk))
        .otherwise(concat(fmtChunk, dataChunk)))
    when(id % 3 === 0, png).when(id % 3 === 1, jpeg).otherwise(wav)
  }

  /** 24bpp bottom-up BMP fixture: dims and every pixel channel derived
    * from doc_id only (w ∈ 2..6, h ∈ 2..5; at top-down pixel (x, y):
    * B = (id + 7x + 13y) % 256, G = (3·id + 5x + y) % 256,
    * R = (2·id + x + 11y) % 256; rows stored bottom-up, stride padded to
    * 4 bytes), so the DuckDB oracle rebuilds the identical bytes in hex
    * space and then PARSES them back — pixels included.
    *
    * `padHex`/`pelsPerMeter` vary ONLY don't-care bytes — the stride
    * padding content (a decoder must skip it) and the header's
    * x/y-pixels-per-meter fields (print metadata, not pixel data) — so
    * two calls with different values yield byte-DIFFERENT payloads that
    * decode to IDENTICAL pixels: the ext_mm_pixel_dedup fixture. */
  private def bmpPayload(padHex: String = "000000",
                         pelsPerMeter: Long = 0L): Column = {
    val id = col("doc_id")
    val w = (id % 5 + 2).cast("int")
    val h = (id % 4 + 2).cast("int")
    val pad = pmod(lit(4) - pmod(w * 3, lit(4)), lit(4))
    val stride = w * 3 + pad
    def hx(v: Column) = lpad(hex(v.cast("long")), 2, "0")
    val rowsHex = transform(sequence(lit(0), h - 1), r => {
      val y = h - 1 - r // storage is bottom-up: stored row r is image row y
      concat(
        array_join(transform(sequence(lit(0), w - 1), x =>
          concat(hx(pmod(id + x * 7 + y * 13, lit(256))),
            hx(pmod(id * 3 + x * 5 + y, lit(256))),
            hx(pmod(id * 2 + x + y * 11, lit(256))))), ""),
        lit(padHex).substr(lit(1), (pad * 2).cast("int")))
    })
    val dataSz = (stride * h).cast("long")
    concat(encode(lit("BM"), "UTF-8"), leBin(dataSz + 54, 4),
      leBin(lit(0L), 4), leBin(lit(54L), 4),
      leBin(lit(40L), 4), leBin(w.cast("long"), 4), leBin(h.cast("long"), 4),
      leBin(lit(1L), 2), leBin(lit(24L), 2), leBin(lit(0L), 4),
      leBin(dataSz, 4), leBin(lit(pelsPerMeter), 4),
      leBin(lit(pelsPerMeter), 4),
      leBin(lit(0L), 4), leBin(lit(0L), 4),
      unhex(array_join(rowsHex, "")))
  }

  /** 8-bit truecolor non-interlaced PNG fixture with the SAME logical
    * pixels as [[bmpPayload]] (top-down pixel (x, y): R = (2·id + x +
    * 11y) % 256, G = (3·id + 5x + y) % 256, B = (id + 7x + 13y) % 256;
    * w ∈ 2..6, h ∈ 2..5), so the cross-format dedup query groups a
    * doc's BMP and PNG encodings together on decoded CONTENT. Rows
    * alternate PNG filters — None (even y) / Sub (odd y; the filtered
    * byte is the mod-256 delta against the left pixel's channel) — and
    * the filtered stream rides in ONE stored (BTYPE=00) deflate block
    * inside a zlib wrapper with a CORRECT adler32 computed in Column
    * space, so the Spark side decodes the payload with the real
    * `java.util.zip.Inflater` + unfilter while the oracle reads every
    * byte from its computable hex position and reconstructs Sub rows
    * by prefix sums over the PARSED bytes — the BmpPixelsOracle
    * discipline. Chunk CRC32 fields are ZEROED (a bit-reflected
    * polynomial fold is not reasonably expressible in SQL): integrity
    * trailers, not pixel data — the decoder skips them, like libpng's
    * CRC-skip mode; [[graft.ext.Multimodal.writePng]] (the production
    * writer) emits real CRCs. */
  private def pngPayload(): Column = {
    val id = col("doc_id")
    val w = (id % 5 + 2).cast("int")
    val h = (id % 4 + 2).cast("int")
    def hx(v: Column) = lpad(hex(v.cast("long")), 2, "0")
    // raw (filtered) byte VALUES in stream order: per row, the filter
    // byte then w interleaved RGB triples (Sub rows: x=0 keeps the
    // pixel, x>0 stores the constant per-channel deltas 1/5/7 the
    // linear formulas induce — generation shortcut only; decode and
    // oracle both RECONSTRUCT from the bytes)
    val rawArr = flatten(transform(sequence(lit(0), h - 1), y => {
      val f = pmod(y, lit(2))
      val pix = flatten(transform(sequence(lit(0), w - 1), x => {
        val r = pmod(id * 2 + x + y * 11, lit(256))
        val g = pmod(id * 3 + x * 5 + y, lit(256))
        val b = pmod(id + x * 7 + y * 13, lit(256))
        val sub = f === 1 && x > 0
        array(
          when(sub, lit(1L)).otherwise(r.cast("long")),
          when(sub, lit(5L)).otherwise(g.cast("long")),
          when(sub, lit(7L)).otherwise(b.cast("long")))
      }))
      concat(array(f.cast("long")), pix)
    }))
    val n = size(rawArr)
    val rawLen = (h * (w * 3 + 1)).cast("long") // == n
    // adler32 over the raw stream: A = (1 + Σd) mod 65521,
    // B = (n + Σ_j (n - j + 1)·d_j) mod 65521, trailer = B·2¹⁶ + A
    val sumS = aggregate(rawArr, lit(0L), (acc, d) => acc + d)
    val sumW = aggregate(
      zip_with(rawArr, sequence(n, lit(1), lit(-1)), (d, k) => d * k),
      lit(0L), (acc, v) => acc + v)
    val adler = pmod(n.cast("long") + sumW, lit(65521L)) * 65536L +
      pmod(lit(1L) + sumS, lit(65521L))
    val rawHex = array_join(transform(rawArr, v => hx(v)), "")
    concat(
      unhex(lit("89504E470D0A1A0A")),                    // signature
      unhex(lit("0000000D")), encode(lit("IHDR"), "UTF-8"),
      beBin(w.cast("long"), 4), beBin(h.cast("long"), 4),
      unhex(lit("0802000000")),  // 8-bit, truecolor, deflate/adaptive/progressive-off
      unhex(lit("00000000")),                            // IHDR CRC (zeroed)
      beBin(rawLen + 11L, 4), encode(lit("IDAT"), "UTF-8"),
      unhex(lit("7801")),                                // zlib CMF/FLG
      unhex(lit("01")),                                  // BFINAL | stored
      leBin(rawLen, 2), leBin(lit(65535L) - rawLen, 2),  // LEN, NLEN
      unhex(rawHex),
      beBin(adler, 4),
      unhex(lit("00000000")),                            // IDAT CRC (zeroed)
      unhex(lit("00000000")), encode(lit("IEND"), "UTF-8"),
      unhex(lit("00000000")))                            // IEND CRC (zeroed)
  }

  /** Plain-Scala twin of [[bmpPayload]] — the same bytes assembled in
    * one compiled pass. The Column form is a large higher-order
    * expression tree (per-pixel hex arithmetic through
    * transform/sequence), and r14 measured the pixel rows'
    * driver-side analysis/codegen of that tree costing more than the
    * execution; the typed form is ONE expression node (guide §4 — the
    * qualityScoreFast/langIdFast convention). Byte equality to the
    * Column form is pinned in PropertySpec; every consumer is
    * oracle-gated. pmod vs `%`: `write` keeps the low 8 bits, and
    * (x % 256) and pmod(x, 256) agree on them for every long x. */
  private[graft] def bmpPayloadBytes(id: Long, padHex: String,
                                     pelsPerMeter: Long): Array[Byte] = {
    val w = (id % 5 + 2).toInt
    val h = (id % 4 + 2).toInt
    val pad = (4 - (w * 3) % 4) % 4
    val stride = w * 3 + pad
    val dataSz = stride.toLong * h
    val out = new java.io.ByteArrayOutputStream(54 + dataSz.toInt)
    def le(v: Long, n: Int): Unit = {
      var i = 0; while (i < n) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    out.write('B'); out.write('M')
    le(dataSz + 54, 4); le(0, 4); le(54, 4)
    le(40, 4); le(w, 4); le(h, 4); le(1, 2); le(24, 2); le(0, 4)
    le(dataSz, 4); le(pelsPerMeter, 4); le(pelsPerMeter, 4); le(0, 4); le(0, 4)
    val padBytes = Array.tabulate(pad)(i =>
      Integer.parseInt(padHex.substring(i * 2, i * 2 + 2), 16))
    var r = 0
    while (r < h) {
      val y = h - 1 - r // stored bottom-up
      var x = 0
      while (x < w) {
        out.write(((id + x * 7 + y * 13) % 256).toInt)
        out.write(((id * 3 + x * 5 + y) % 256).toInt)
        out.write(((id * 2 + x + y * 11) % 256).toInt)
        x += 1
      }
      padBytes.foreach(out.write)
      r += 1
    }
    out.toByteArray
  }

  /** Plain-Scala twin of [[pngPayload]] — same bytes, one compiled
    * pass (see [[bmpPayloadBytes]]). The adler32 fold mirrors the
    * Column form's (A, B) mod-65521 arithmetic exactly. */
  private[graft] def pngPayloadBytes(id: Long): Array[Byte] = {
    val w = (id % 5 + 2).toInt
    val h = (id % 4 + 2).toInt
    val rawLen = h * (w * 3 + 1)
    val raw = new Array[Int](rawLen)
    var p = 0
    var y = 0
    while (y < h) {
      val f = y % 2
      raw(p) = f; p += 1
      var x = 0
      while (x < w) {
        val sub = f == 1 && x > 0
        raw(p) = if (sub) 1 else (((id * 2 + x + y * 11) % 256) & 0xff).toInt
        raw(p + 1) = if (sub) 5 else (((id * 3 + x * 5 + y) % 256) & 0xff).toInt
        raw(p + 2) = if (sub) 7 else (((id + x * 7 + y * 13) % 256) & 0xff).toInt
        p += 3; x += 1
      }
      y += 1
    }
    var sumS = 0L; var sumW = 0L
    var i = 0
    while (i < rawLen) { sumS += raw(i); sumW += raw(i).toLong * (rawLen - i); i += 1 }
    val adler = ((rawLen + sumW) % 65521L) * 65536L + (1L + sumS) % 65521L
    val out = new java.io.ByteArrayOutputStream(64 + rawLen)
    def be(v: Long, n: Int): Unit = {
      var j = n - 1; while (j >= 0) { out.write(((v >> (8 * j)) & 0xff).toInt); j -= 1 }
    }
    def le(v: Long, n: Int): Unit = {
      var j = 0; while (j < n) { out.write(((v >> (8 * j)) & 0xff).toInt); j += 1 }
    }
    def hexB(s: String): Unit = {
      var j = 0
      while (j < s.length) { out.write(Integer.parseInt(s.substring(j, j + 2), 16)); j += 2 }
    }
    hexB("89504E470D0A1A0A")                       // signature
    hexB("0000000D"); "IHDR".foreach(c => out.write(c))
    be(w, 4); be(h, 4)
    hexB("0802000000")                             // bit depth/color/etc
    hexB("00000000")                               // IHDR CRC (zeroed)
    be(rawLen + 11L, 4); "IDAT".foreach(c => out.write(c))
    hexB("7801")                                   // zlib CMF/FLG
    hexB("01")                                     // BFINAL | stored
    le(rawLen, 2); le(65535L - rawLen, 2)          // LEN, NLEN
    raw.foreach(out.write)
    be(adler, 4)
    hexB("00000000")                               // IDAT CRC (zeroed)
    hexB("00000000"); "IEND".foreach(c => out.write(c))
    hexB("00000000")                               // IEND CRC (zeroed)
    out.toByteArray
  }

  /** Compiled payload Columns over `doc_id` — the hot-path twins the
    * pixel queries use in place of the Column-tree builders. */
  private[graft] def bmpPayloadFast(padHex: String = "000000",
                                    pelsPerMeter: Long = 0L): Column =
    udf((id: Long) => bmpPayloadBytes(id, padHex, pelsPerMeter))
      .apply(col("doc_id"))
  private[graft] def pngPayloadFast(): Column =
    udf((id: Long) => pngPayloadBytes(id)).apply(col("doc_id"))

  /** Column-tree builders kept for the PropertySpec equivalence pin. */
  private[graft] def bmpPayloadColumnForm(padHex: String = "000000",
                                          pelsPerMeter: Long = 0L): Column =
    bmpPayload(padHex, pelsPerMeter)
  private[graft] def pngPayloadColumnForm(): Column = pngPayload()

  def defs: Seq[QueryDef] = Seq(

    // REAL format-header parsing (r11): payloads carry genuine PNG IHDR /
    // JPEG SOF (behind a doc-varying COM segment — the walk is load-
    // bearing) / WAV fmt+data headers, and toMediaFrame's meta now comes
    // from Multimodal.mediaMeta's scan-side byte arithmetic. The oracle
    // REBUILDS the same bytes in hex-string space and PARSES them back
    // with the same segment/chunk walks (recursive CTEs) — it never
    // shortcuts to the generator formulas for width/height/duration.
    QueryDef("ext_mm_real_headers", (s, dir) => {
      val media = Multimodal.toMediaFrame(
        Tables.documents(s, dir)
          .withColumn("payload", ExtMultimodalQueries.realHeaderPayload()),
        "doc_id", "payload",
        element_at(typedLit(Seq("image", "image", "audio")),
          (col("doc_id") % 3 + 1).cast("int")))
      media.select(col("media_id"), col("media_type"),
        Multimodal.mediaMeta(col("payload")).getField("format").as("format"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"),
        col("meta.duration_ms").as("duration_ms"))
    }, Some(RealHeaderOracle.sql)),


    // REAL pixel lane (r12): uncompressed 24bpp BMP payloads decode,
    // box-filter-resize and feature-extract on ACTUAL pixel values —
    // no codec needed because BMP pixel storage IS the raw bytes. The
    // chain: scan-side header parse (w, h) → factor-2 resize (floor of
    // each 2×2 block mean per channel, re-encoded as a valid BMP whose
    // dims the independent mediaMeta parser re-reads) → gray-block
    // features over the original (4 blocks) and the resized (global
    // mean) pixels — exact integer sums until one final division. The
    // oracle rebuilds the same bytes in hex space, PARSES the header
    // back, reads every pixel from its computed hex position (bottom-up
    // rows, stride padding skipped), and replays the identical resize /
    // feature arithmetic.
    QueryDef("ext_mm_pixels", (s, dir) => {
      // persist barriers (the ext_mm_pixel_dedup rationale): media feeds
      // THREE consumers and resized two — uncached, each action
      // re-optimizes/re-codegens the huge per-byte payload expression.
      // NO widen here: A/B'd negative AGAIN in r15 even with the
      // compiled payload builders (2.48 -> 3.12 s; the 32-partition
      // cache multiplies per-task constants across three consumers of
      // a kilobyte-scale frame) — see OPTIMIZATION_r15.md
      val media = graft.core.CacheRegistry.persistTracked(
        Multimodal.toMediaFrame(
          Tables.documents(s, dir).select("doc_id")
            .withColumn("payload", ExtMultimodalQueries.bmpPayloadFast()),
          "doc_id", "payload", lit("image")))
      val resized = graft.core.CacheRegistry.persistTracked(
        Multimodal.resize(media, factor = 2))
      val feats = Multimodal.extractFeatures(media, dims = 4)
      val rstats = Multimodal.extractFeatures(resized, dims = 1)
      val rMeta = Multimodal.mediaMeta(col("payload"))
      media.select(col("media_id"),
          col("meta.width").cast("long").as("w"),
          col("meta.height").cast("long").as("h"))
        .join(resized.select(col("media_id"),
            length(col("payload")).cast("long").as("r_bytes"),
            rMeta.getField("width").cast("long").as("rw"),
            rMeta.getField("height").cast("long").as("rh")),
          Seq("media_id"))
        .join(feats.select(col("media_id") +: (0 until 4).map(i =>
            round(element_at(col("features"), i + 1) + lit(1e-9), 6)
              .as(s"f$i")): _*),
          Seq("media_id"))
        .join(rstats.select(col("media_id"),
            round(element_at(col("features"), 1) + lit(1e-9), 6)
              .as("r_mean")),
          Seq("media_id"))
    }, Some(BmpPixelsOracle.sql)),


    // ---- Multimodal plumbing ------------------------------------------

    // Binary payload + typed metadata (decode stubbed; schema/plumbing real).
    QueryDef("ext_mm_media_meta", (s, dir) => {
      val media = Multimodal.toMediaFrame(
        Tables.documents(s, dir)
          .withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload",
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")))
      media.select(col("media_id"), col("media_type"),
        col("meta.n_bytes").as("n_bytes"))
    }, Some("""SELECT doc_id AS media_id,
        (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents""")),


    // Resize stub: every-4th-byte downsample; payload and metadata are
    // rewritten together. Oracle checks the byte accounting (content is
    // hex-round-tripped so the driver can hash it as a scalar).
    QueryDef("ext_mm_resize", (s, dir) => {
      val media = Multimodal.toMediaFrame(
        Tables.documents(s, dir)
          .withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload",
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")))
      Multimodal.resize(media, factor = 4)
        .select(col("media_id"), col("media_type"),
          col("meta.n_bytes").as("n_bytes"), hex(col("payload")).as("payload_hex"))
    }, Some("""SELECT doc_id AS media_id,
        (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS n_bytes,
        regexp_replace(hex(encode(text)), '(..)(..)?(..)?(..)?', '\1', 'g')
          AS payload_hex
      FROM documents""")),


    // Frame sampling: every-4th 64-byte block of the payload stands in
    // for every-4th video frame (decode stubbed; the explode-to-frames
    // operator shape is the point). Hex frames are recomputed by the
    // oracle byte-for-byte.
    QueryDef("ext_mm_frames", (s, dir) => {
      val media = Multimodal.toMediaFrame(
        Tables.documents(s, dir)
          .withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload",
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")))
      Multimodal.sampleFrames(media, blockBytes = 64, everyNth = 4)
        .select(col("media_id"), col("media_type"),
          col("frame_idx").cast("long").as("frame_idx"), col("frame_hex"))
    }, Some("""WITH h AS (SELECT doc_id,
          (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
          hex(encode(text)) AS hx FROM documents),
      idx AS (SELECT doc_id, media_type, hx,
          unnest(range(CAST(ceil(len(hx) / 128.0) AS BIGINT))) AS i FROM h)
      SELECT doc_id AS media_id, media_type, i AS frame_idx,
        substr(hx, CAST(i * 128 + 1 AS INT), 128) AS frame_hex
      FROM idx WHERE i % 4 = 0
        AND len(substr(hx, CAST(i * 128 + 1 AS INT), 128)) > 0""")),


    // Batched per-partition feature extraction over ASCII payloads (the
    // mapPartitions analogue of a batched pandas UDF); stride-fold stub
    // features are recomputed by the oracle from character codes.
    // Output is exploded to one (media_id, dim_idx, value) row per feature
    // dimension: array-typed result columns are unrepresentable in the
    // harness comparator, and the stub features are integral byte sums, so
    // BIGINT rows make the compare fp-free.
    QueryDef("ext_mm_features", (s, dir) => {
      val media = Multimodal.toMediaFrame(
        Tables.documents(s, dir).filter(col("lang") === "en")
          .withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload",
        lit("text"))
      Multimodal.extractFeatures(media, dims = 8)
        .select(col("media_id"),
          posexplode(col("features")).as(Seq("dim_idx", "value")))
        .select(col("media_id"), col("dim_idx").cast("long").as("dim_idx"),
          col("value").cast("long").as("value"))
    }, Some("""SELECT doc_id AS media_id,
        CAST(generate_subscripts(features, 1) - 1 AS BIGINT) AS dim_idx,
        CAST(unnest(features) AS BIGINT) AS value
      FROM (SELECT doc_id,
        [list_sum(list_transform(range(1, len(codes) + 1, 8), i -> codes[i])),
         list_sum(list_transform(range(2, len(codes) + 1, 8), i -> codes[i])),
         list_sum(list_transform(range(3, len(codes) + 1, 8), i -> codes[i])),
         list_sum(list_transform(range(4, len(codes) + 1, 8), i -> codes[i])),
         list_sum(list_transform(range(5, len(codes) + 1, 8), i -> codes[i])),
         list_sum(list_transform(range(6, len(codes) + 1, 8), i -> codes[i])),
         list_sum(list_transform(range(7, len(codes) + 1, 8), i -> codes[i])),
         list_sum(list_transform(range(8, len(codes) + 1, 8), i -> codes[i]))]
        AS features
      FROM (SELECT doc_id,
              list_transform(regexp_extract_all(text, '.'), c -> unicode(c)) AS codes
            FROM documents WHERE lang = 'en'))""")),


    // Perceptual-hash media near-dup: 64-bit integer block-hash over
    // payload bytes, banded-LSH candidates (full recall to hamming 3 by
    // pigeonhole), exact Hamming verify. Seeds: byte-identical copies
    // (hamming 0) and same-length one-byte edits. The oracle recomputes
    // the hash from hex(payload) in exact integer arithmetic and checks
    // ALL pairs brute-force — banding must lose nothing.
    QueryDef("ext_mm_neardup", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val copies = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text"))
      val edited = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("Z"), expr("substring(text, 2)")).as("text"))
      val media = Multimodal.toMediaFrame(
        base.unionByName(copies).unionByName(edited)
          .withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload", lit("image"))
      Multimodal.nearDupMedia(media, maxHamming = 3, bands = 4)
    }, Some("""WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000, text FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 600000, 'Z' || substr(text, 2) FROM documents
        WHERE doc_id % 11 = 0),
      raw AS (SELECT doc_id, hex(encode(text)) AS h,
          octet_length(encode(text)) AS n FROM all_docs),
      byt AS (SELECT doc_id, n, list_transform(range(1, n + 1), i ->
          (strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1) * 16
          + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1)) AS bytes
        FROM raw),
      hp AS (SELECT doc_id, list_transform(range(0, 64), b ->
          CASE WHEN list_sum(bytes[(b*n)//64 + 1 : ((b+1)*n)//64]) * n >
                    list_sum(bytes) * (((b+1)*n)//64 - (b*n)//64)
               THEN 1 ELSE 0 END) AS bits FROM byt)
      SELECT id_a, id_b, hamming FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i]))
            AS BIGINT) AS hamming
        FROM hp a JOIN hp b ON a.doc_id < b.doc_id)
      WHERE hamming <= 3""")),


    // Incremental media dedup against a standing phash library (the
    // daily-batch posture): identical copies and one-byte edits drop
    // against the base by Hamming; a novel-suffix pair survives the
    // base but self-dedups to its lower id. The oracle recomputes every
    // hash and both drop stages brute-force.
    QueryDef("ext_mm_dedup_incremental", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      def mediaOf(df: org.apache.spark.sql.DataFrame) =
        Multimodal.toMediaFrame(
          df.withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", lit("image"))
      val batch = base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(lit("Z"), expr("substring(text, 2)")).as("text")))
        .unionByName(base.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 500000).as("doc_id"),
            concat(col("text"), lit(" completely novel padding suffix block"))
              .as("text")))
        .unionByName(base.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 560000).as("doc_id"),
            concat(col("text"), lit(" completely novel padding suffix block"))
              .as("text")))
      Multimodal.incrementalNearDupMedia(mediaOf(batch),
        Multimodal.blockHash64(mediaOf(base)), maxHamming = 3, bands = 4)
    }, Some("""WITH batch AS (
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id + 200000, 'Z' || substr(text, 2) FROM documents
        WHERE doc_id % 17 = 0
        UNION ALL
        SELECT doc_id + 500000, text || ' completely novel padding suffix block'
        FROM documents WHERE doc_id % 19 = 0
        UNION ALL
        SELECT doc_id + 560000, text || ' completely novel padding suffix block'
        FROM documents WHERE doc_id % 19 = 0),
      all_docs AS (SELECT 0 AS side, doc_id, text FROM documents
        UNION ALL SELECT 1, doc_id, text FROM batch),
      raw AS (SELECT side, doc_id, hex(encode(text)) AS h,
          octet_length(encode(text)) AS n FROM all_docs),
      byt AS (SELECT side, doc_id, n, list_transform(range(1, n + 1), i ->
          (strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1) * 16
          + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1)) AS bytes
        FROM raw),
      hp AS (SELECT side, doc_id, list_transform(range(0, 64), b ->
          CASE WHEN list_sum(bytes[(b*n)//64 + 1 : ((b+1)*n)//64]) * n >
                    list_sum(bytes) * (((b+1)*n)//64 - (b*n)//64)
               THEN 1 ELSE 0 END) AS bits FROM byt),
      bhp AS (SELECT doc_id, bits FROM hp WHERE side = 1),
      basehp AS (SELECT doc_id, bits FROM hp WHERE side = 0),
      drop_vs_base AS (SELECT DISTINCT b.doc_id FROM bhp b JOIN basehp a
        ON len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
      fresh AS (SELECT * FROM bhp
        WHERE doc_id NOT IN (SELECT doc_id FROM drop_vs_base)),
      self_drops AS (SELECT DISTINCT b.doc_id FROM fresh b JOIN fresh a
        ON a.doc_id < b.doc_id
        AND len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3)
      SELECT doc_id AS media_id FROM fresh
      WHERE doc_id NOT IN (SELECT doc_id FROM self_drops)""")),


    // PIXEL-CONTENT dedup (r13): every document ships TWICE as a BMP —
    // once with zero stride padding and zeroed resolution header fields,
    // once with 0xAB padding and 2835-ppm resolution — byte-DIFFERENT
    // payloads (n_byte_variants = 2 per group, checked via distinct
    // payload hashes) that decode to IDENTICAL pixels. The dedup key is
    // gray-block features over the DECODED pixels plus parsed (w, h), so
    // the pair collapses to the min media_id: the multimodal dedup
    // family keys on CONTENT, not encoding — the property a
    // payload-byte phash (ext_mm_neardup's hamming-0 seeds) cannot
    // claim. The oracle rebuilds BOTH byte variants in hex space,
    // parses each variant's pixels out of its OWN bytes, replays the
    // feature arithmetic per variant, and groups the same way.
    QueryDef("ext_mm_pixel_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id")
      // The second variant's ids shift by a DERIVED stride —
      // max(doc_id) + 1, broadcast as a 1-row frame — never a literal:
      // a literal stride silently collides once the fixture grows (the
      // same rule AmpBench enforces for amplified
      // copies). The oracle computes the identical max in SQL.
      val shift = broadcast(
        docs.agg((max(col("doc_id")) + lit(1L)).as("__shift")))
      val a = docs.withColumn("payload", bmpPayloadFast())
        .select(col("doc_id"), col("payload"))
      val b = docs
        .withColumn("payload",
          bmpPayloadFast(padHex = "ABABAB", pelsPerMeter = 2835L))
        .crossJoin(shift)
        .select((col("doc_id") + col("__shift")).as("doc_id"),
          col("payload"))
      // persist barrier (cost, not cross-run caching): the payload
      // builder is a huge expression tree (hex arithmetic per byte) and
      // media feeds TWO consumers (the keyed frame and the feature
      // decode) — uncached, every downstream action re-carries and
      // re-optimizes/re-codegens the giant tree, which at this payload
      // size costs more driver time than the execution itself
      val media = graft.core.CacheRegistry.persistTracked(
        Multimodal.toMediaFrame(
          a.unionByName(b), "doc_id", "payload", lit("image")))
      val feats = Multimodal.extractFeatures(media, dims = 4)
      val keyed = media.select(col("media_id"),
          col("meta.width").cast("long").as("w"),
          col("meta.height").cast("long").as("h"),
          md5(col("payload")).as("pmd5"))
        .join(feats.select(col("media_id") +: (0 until 4).map(i =>
            round(element_at(col("features"), i + 1) + lit(1e-9), 6)
              .as(s"f$i")): _*),
          Seq("media_id"))
      keyed.groupBy("w", "h", "f0", "f1", "f2", "f3")
        .agg(min(col("media_id")).cast("long").as("keeper_id"),
          count(lit(1)).cast("long").as("n_members"),
          countDistinct(col("pmd5")).cast("long").as("n_byte_variants"))
        .select("keeper_id", "w", "h", "n_members", "n_byte_variants")
    }, Some(BmpPixelDedupOracle.sql)),


    // REAL PNG pixel lane (r14): payloads are valid zlib-wrapped PNGs
    // (stored deflate blocks, correct adler32, rows alternating the
    // None and Sub filters) that the Spark side decodes with the
    // PRODUCTION path — java.util.zip.Inflater + the four-filter
    // reconstruction in Multimodal.pngPixels — then feature-extracts,
    // factor-2 box-resizes and RE-ENCODES via writePng, whose output
    // the independent mediaMeta parser re-reads. The oracle rebuilds
    // the same payload bytes in hex space, PARSES width/height/filter
    // bytes back out of them, reconstructs Sub rows by prefix sums
    // over the parsed bytes (never the generator formulas), and
    // replays the feature/resize arithmetic.
    QueryDef("ext_mm_png_pixels", (s, dir) => {
      // persist barriers — same rationale as ext_mm_pixels (widen
      // re-A/B'd negative in r15; see there)
      val media = graft.core.CacheRegistry.persistTracked(
        Multimodal.toMediaFrame(
          Tables.documents(s, dir).select("doc_id")
            .withColumn("payload", ExtMultimodalQueries.pngPayloadFast()),
          "doc_id", "payload", lit("image")))
      val resized = graft.core.CacheRegistry.persistTracked(
        Multimodal.resize(media, factor = 2))
      val feats = Multimodal.extractFeatures(media, dims = 4)
      val rstats = Multimodal.extractFeatures(resized, dims = 1)
      val rMeta = Multimodal.mediaMeta(col("payload"))
      media.select(col("media_id"),
          col("meta.width").cast("long").as("w"),
          col("meta.height").cast("long").as("h"))
        .join(resized.select(col("media_id"),
            length(col("payload")).cast("long").as("r_bytes"),
            rMeta.getField("width").cast("long").as("rw"),
            rMeta.getField("height").cast("long").as("rh")),
          Seq("media_id"))
        .join(feats.select(col("media_id") +: (0 until 4).map(i =>
            round(element_at(col("features"), i + 1) + lit(1e-9), 6)
              .as(s"f$i")): _*),
          Seq("media_id"))
        .join(rstats.select(col("media_id"),
            round(element_at(col("features"), 1) + lit(1e-9), 6)
              .as("r_mean")),
          Seq("media_id"))
    }, Some(PngPixelsOracle.sql)),


    // CROSS-FORMAT pixel-content dedup (r14): every document ships
    // once as a BMP and once as a PNG — different FORMATS, different
    // compression layouts, identical logical pixels — and the dedup
    // key is gray-block features over each payload's own DECODED
    // pixels, so the pair collapses to the min media_id. This is the
    // property neither a payload-byte hash nor a header compare can
    // claim: content identity across encodings. PNG ids shift by the
    // derived max(doc_id)+1 stride (never a literal). The oracle
    // rebuilds BOTH formats in hex space and parses each one's pixels
    // out of its own bytes — BMP via bottom-up stride arithmetic, PNG
    // via filter-byte reconstruction.
    QueryDef("ext_mm_png_pixel_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id")
      val shift = broadcast(
        docs.agg((max(col("doc_id")) + lit(1L)).as("__shift")))
      val a = docs.withColumn("payload", bmpPayloadFast())
        .select(col("doc_id"), col("payload"))
      val b = docs.withColumn("payload", ExtMultimodalQueries.pngPayloadFast())
        .crossJoin(shift)
        .select((col("doc_id") + col("__shift")).as("doc_id"),
          col("payload"))
      // persist barrier (cost, not cross-run caching): the payload
      // builder is a huge expression tree (hex arithmetic per byte) and
      // media feeds TWO consumers (the keyed frame and the feature
      // decode) — uncached, every downstream action re-carries and
      // re-optimizes/re-codegens the giant tree, which at this payload
      // size costs more driver time than the execution itself
      val media = graft.core.CacheRegistry.persistTracked(
        Multimodal.toMediaFrame(
          a.unionByName(b), "doc_id", "payload", lit("image")))
      val feats = Multimodal.extractFeatures(media, dims = 4)
      val keyed = media.select(col("media_id"),
          col("meta.width").cast("long").as("w"),
          col("meta.height").cast("long").as("h"),
          md5(col("payload")).as("pmd5"))
        .join(feats.select(col("media_id") +: (0 until 4).map(i =>
            round(element_at(col("features"), i + 1) + lit(1e-9), 6)
              .as(s"f$i")): _*),
          Seq("media_id"))
      keyed.groupBy("w", "h", "f0", "f1", "f2", "f3")
        .agg(min(col("media_id")).cast("long").as("keeper_id"),
          count(lit(1)).cast("long").as("n_members"),
          countDistinct(col("pmd5")).cast("long").as("n_formats"))
        .select("keeper_id", "w", "h", "n_members", "n_formats")
    }, Some(PngCrossFormatDedupOracle.sql))
  )
}

/**
 * DuckDB oracle for `ext_mm_real_headers`: REBUILDS the fixture payloads
 * in hex-string space byte-for-byte (same doc_id/text derivations as
 * [[ExtMultimodalQueries.realHeaderPayload]]), then PARSES the headers
 * back out of the hex bytes -- fixed-offset IHDR reads for PNG, a
 * recursive-CTE segment walk to SOF for JPEG, a recursive-CTE chunk walk
 * for WAV -- never shortcutting to the generator formulas. The SQL text
 * is assembled with small Scala helpers because every byte read expands
 * to a strpos-arithmetic expression in hex space (DuckDB has no blob
 * substring).
 */
/**
 * DuckDB replay of the BMP pixel lane: rebuild the fixture bytes in hex
 * space, parse w/h/offset/stride back OUT of the header bytes, read
 * every pixel from its computed hex position (bottom-up rows, stride
 * padding skipped), then replay the gray-block features and the
 * factor-2 box-filter resize (per-channel floor means) with the same
 * exact-integer arithmetic the Spark lane runs.
 */
private[queries] object BmpPixelsOracle {
  private def byteAt(h: String, p: String): String =
    s"((strpos('0123456789ABCDEF', substr($h, 2*($p) - 1, 1)) - 1) * 16 " +
      s"+ (strpos('0123456789ABCDEF', substr($h, 2*($p), 1)) - 1))"
  private def le4(h: String, p: String): String =
    s"(${byteAt(h, p)} + ${byteAt(h, s"$p + 1")} * 256 " +
      s"+ ${byteAt(h, s"$p + 2")} * 65536 " +
      s"+ ${byteAt(h, s"$p + 3")} * 16777216)"
  private def leHex(v: String, n: Int): String =
    (n - 1 to 0 by -1)
      .map(i => s"substr(lpad(to_hex($v), ${2 * n}, '0'), ${i * 2 + 1}, 2)")
      .mkString("(", " || ", ")")

  val sql: String = s"""WITH geom AS (
      SELECT doc_id, doc_id % 5 + 2 AS gw, doc_id % 4 + 2 AS gh,
        (doc_id % 5 + 2) * 3
          + (4 - ((doc_id % 5 + 2) * 3) % 4) % 4 AS gstride
      FROM documents),
    pay AS (
      SELECT doc_id,
        '424D' || ${leHex("gstride * gh + 54", 4)} || '00000000'
          || '36000000' || '28000000'
          || ${leHex("gw", 4)} || ${leHex("gh", 4)}
          || '0100' || '1800' || '00000000' || ${leHex("gstride * gh", 4)}
          || '00000000' || '00000000' || '00000000' || '00000000'
          || array_to_string(list_transform(range(0, gh), r ->
               array_to_string(list_transform(range(0, gw), x ->
                   lpad(to_hex((doc_id + x * 7 + (gh - 1 - r) * 13) % 256),
                     2, '0')
                || lpad(to_hex((doc_id * 3 + x * 5 + (gh - 1 - r)) % 256),
                     2, '0')
                || lpad(to_hex((doc_id * 2 + x + (gh - 1 - r) * 11) % 256),
                     2, '0')), '')
               || substr('000000', 1,
                    CAST((gstride - gw * 3) * 2 AS INT))), '') AS hx
      FROM geom),
    hdr AS (
      SELECT doc_id, hx,
        ${le4("hx", "19")} AS w, ${le4("hx", "23")} AS h,
        ${le4("hx", "11")} AS off,
        (${le4("hx", "19")} * 3 + 3) // 4 * 4 AS stride
      FROM pay),
    opx AS (
      SELECT doc_id, w, h, p,
        ${byteAt("hx", "off + (h - 1 - p // w) * stride + (p % w) * 3 + 1")}
          AS b,
        ${byteAt("hx", "off + (h - 1 - p // w) * stride + (p % w) * 3 + 2")}
          AS g,
        ${byteAt("hx", "off + (h - 1 - p // w) * stride + (p % w) * 3 + 3")}
          AS r
      FROM (SELECT doc_id, hx, w, h, off, stride,
          unnest(range(0, w * h)) AS p FROM hdr)),
    feats AS (
      SELECT doc_id, p * 4 // (w * h) AS d,
        CAST(sum(b + g + r) AS BIGINT) AS s3,
        CAST(count(*) AS BIGINT) AS c
      FROM opx GROUP BY 1, 2),
    fpiv AS (
      SELECT doc_id,
        round(max(CASE WHEN d = 0 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f0,
        round(max(CASE WHEN d = 1 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f1,
        round(max(CASE WHEN d = 2 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f2,
        round(max(CASE WHEN d = 3 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f3
      FROM feats GROUP BY 1),
    rblk AS (
      SELECT doc_id, (p % w) // 2 AS x2, (p // w) // 2 AS y2,
        CAST(sum(b) AS BIGINT) // count(*) AS cb,
        CAST(sum(g) AS BIGINT) // count(*) AS cg,
        CAST(sum(r) AS BIGINT) // count(*) AS cr
      FROM opx GROUP BY 1, 2, 3),
    rstat AS (
      SELECT doc_id,
        round(CAST(sum(cb + cg + cr) AS DOUBLE) / (3.0 * count(*))
          + 1e-9, 6) AS r_mean
      FROM rblk GROUP BY 1),
    dims AS (
      SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        CAST((w + 1) // 2 AS BIGINT) AS rw,
        CAST((h + 1) // 2 AS BIGINT) AS rh,
        CAST(54 + ((((w + 1) // 2) * 3 + 3) // 4 * 4) * ((h + 1) // 2)
          AS BIGINT) AS r_bytes
      FROM hdr)
    SELECT d.doc_id AS media_id, d.w, d.h, d.r_bytes, d.rw, d.rh,
      f.f0, f.f1, f.f2, f.f3, rs.r_mean
    FROM dims d
      JOIN fpiv f ON f.doc_id = d.doc_id
      JOIN rstat rs ON rs.doc_id = d.doc_id"""
}

/**
 * DuckDB replay of `ext_mm_pixel_dedup`: rebuilds BOTH byte variants of
 * every BMP in hex space (side 0 = zero padding / zero ppm, side 1 =
 * 0xAB padding / 2835 ppm — don't-care bytes only), parses each
 * variant's header and pixels out of its OWN bytes (no shortcut to the
 * shared generator formulas), replays the gray-block feature
 * arithmetic per variant, then groups on (w, h, features) exactly like
 * the Spark side — distinct hex payloads stand in for the distinct
 * payload md5s (equal counts by construction).
 */
private[queries] object BmpPixelDedupOracle {
  private def byteAt(h: String, p: String): String =
    s"((strpos('0123456789ABCDEF', substr($h, 2*($p) - 1, 1)) - 1) * 16 " +
      s"+ (strpos('0123456789ABCDEF', substr($h, 2*($p), 1)) - 1))"
  private def le4(h: String, p: String): String =
    s"(${byteAt(h, p)} + ${byteAt(h, s"$p + 1")} * 256 " +
      s"+ ${byteAt(h, s"$p + 2")} * 65536 " +
      s"+ ${byteAt(h, s"$p + 3")} * 16777216)"
  private def leHex(v: String, n: Int): String =
    (n - 1 to 0 by -1)
      .map(i => s"substr(lpad(to_hex($v), ${2 * n}, '0'), ${i * 2 + 1}, 2)")
      .mkString("(", " || ", ")")

  val sql: String = s"""WITH geom AS (
      SELECT doc_id, doc_id % 5 + 2 AS gw, doc_id % 4 + 2 AS gh,
        (doc_id % 5 + 2) * 3
          + (4 - ((doc_id % 5 + 2) * 3) % 4) % 4 AS gstride
      FROM documents),
    sides AS (
      SELECT doc_id, gw, gh, gstride, unnest([0, 1]) AS side FROM geom),
    pay AS (
      SELECT doc_id + side * (SELECT max(doc_id) + 1 FROM documents)
          AS media_id,
        '424D' || ${leHex("gstride * gh + 54", 4)} || '00000000'
          || '36000000' || '28000000'
          || ${leHex("gw", 4)} || ${leHex("gh", 4)}
          || '0100' || '1800' || '00000000' || ${leHex("gstride * gh", 4)}
          || CASE WHEN side = 0 THEN '0000000000000000'
             ELSE '130B0000130B0000' END
          || '00000000' || '00000000'
          || array_to_string(list_transform(range(0, gh), r ->
               array_to_string(list_transform(range(0, gw), x ->
                   lpad(to_hex((doc_id + x * 7 + (gh - 1 - r) * 13) % 256),
                     2, '0')
                || lpad(to_hex((doc_id * 3 + x * 5 + (gh - 1 - r)) % 256),
                     2, '0')
                || lpad(to_hex((doc_id * 2 + x + (gh - 1 - r) * 11) % 256),
                     2, '0')), '')
               || substr(CASE WHEN side = 0 THEN '000000' ELSE 'ABABAB' END,
                    1, CAST((gstride - gw * 3) * 2 AS INT))), '') AS hx
      FROM sides),
    hdr AS (
      SELECT media_id, hx,
        ${le4("hx", "19")} AS w, ${le4("hx", "23")} AS h,
        ${le4("hx", "11")} AS off,
        (${le4("hx", "19")} * 3 + 3) // 4 * 4 AS stride
      FROM pay),
    opx AS (
      SELECT media_id, w, h, p,
        ${byteAt("hx", "off + (h - 1 - p // w) * stride + (p % w) * 3 + 1")}
          AS b,
        ${byteAt("hx", "off + (h - 1 - p // w) * stride + (p % w) * 3 + 2")}
          AS g,
        ${byteAt("hx", "off + (h - 1 - p // w) * stride + (p % w) * 3 + 3")}
          AS r
      FROM (SELECT media_id, hx, w, h, off, stride,
          unnest(range(0, w * h)) AS p FROM hdr)),
    feats AS (
      SELECT media_id, p * 4 // (w * h) AS d,
        CAST(sum(b + g + r) AS BIGINT) AS s3,
        CAST(count(*) AS BIGINT) AS c
      FROM opx GROUP BY 1, 2),
    fpiv AS (
      SELECT media_id,
        round(max(CASE WHEN d = 0 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f0,
        round(max(CASE WHEN d = 1 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f1,
        round(max(CASE WHEN d = 2 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f2,
        round(max(CASE WHEN d = 3 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f3
      FROM feats GROUP BY 1),
    keyed AS (
      SELECT hd.media_id, CAST(hd.w AS BIGINT) AS w, CAST(hd.h AS BIGINT) AS h,
        f.f0, f.f1, f.f2, f.f3, hd.hx
      FROM hdr hd JOIN fpiv f ON f.media_id = hd.media_id)
    SELECT CAST(min(media_id) AS BIGINT) AS keeper_id, w, h,
      CAST(count(*) AS BIGINT) AS n_members,
      CAST(count(DISTINCT hx) AS BIGINT) AS n_byte_variants
    FROM keyed GROUP BY w, h, f0, f1, f2, f3"""
}

/**
 * Shared hex-space fragments for the PNG pixel oracles: the payload
 * BUILD (same bytes as [[ExtMultimodalQueries.pngPayload]] — stored
 * deflate block, Column-computed adler32, zeroed CRCs) and the honest
 * PARSE back — width/height out of the IHDR bytes, per-row filter
 * bytes out of the raw stream, Sub rows reconstructed by prefix sums
 * over the PARSED bytes (a whole-row Sub filter telescopes to a
 * running mod-256 sum), never the generator formulas.
 */
private[queries] object PngOracleFragments {
  def byteAt(h: String, p: String): String =
    s"((strpos('0123456789ABCDEF', substr($h, 2*($p) - 1, 1)) - 1) * 16 " +
      s"+ (strpos('0123456789ABCDEF', substr($h, 2*($p), 1)) - 1))"
  def be4(h: String, p: String): String =
    s"(${byteAt(h, p)} * 16777216 + ${byteAt(h, s"$p + 1")} * 65536 " +
      s"+ ${byteAt(h, s"$p + 2")} * 256 + ${byteAt(h, s"$p + 3")})"
  /** Little-endian hex of expression `v` over `n` bytes. */
  def leHex(v: String, n: Int): String =
    (0 until n)
      .map(i => s"substr(lpad(to_hex($v), ${2 * n}, '0'), " +
        s"${2 * n - 2 * i - 1}, 2)")
      .mkString("(", " || ", ")")

  /** CTE chain `geomp → ppay(media_id, hx)` building every document's
    * PNG payload hex with media_id = doc_id + `idShift`. */
  def buildCtes(idShift: String): String = s"""geomp AS (
      SELECT doc_id, doc_id % 5 + 2 AS gw, doc_id % 4 + 2 AS gh
      FROM documents),
    prawb AS (
      SELECT doc_id, gw, gh, gh * (1 + 3 * gw) AS rawlen,
        flatten(list_transform(range(0, gh), y ->
          list_concat([CAST(y % 2 AS BIGINT)],
            flatten(list_transform(range(0, gw), x ->
              CASE WHEN y % 2 = 1 AND x > 0
                THEN [CAST(1 AS BIGINT), CAST(5 AS BIGINT),
                      CAST(7 AS BIGINT)]
                ELSE [CAST((2 * doc_id + x + 11 * y) % 256 AS BIGINT),
                      CAST((3 * doc_id + 5 * x + y) % 256 AS BIGINT),
                      CAST((doc_id + 7 * x + 13 * y) % 256 AS BIGINT)]
              END))))) AS raw
      FROM geomp),
    padler AS (
      SELECT doc_id, gw, gh, rawlen, raw,
        CAST((1 + list_aggregate(raw, 'sum')) % 65521 AS BIGINT) AS ada,
        CAST((rawlen + list_aggregate(
            list_transform(range(1, rawlen + 1),
              j -> raw[CAST(j AS INT)] * (rawlen - j + 1)), 'sum'))
          % 65521 AS BIGINT) AS adb
      FROM prawb),
    ppay AS (
      SELECT doc_id + $idShift AS media_id,
        '89504E470D0A1A0A' || '0000000D' || '49484452'
          || lpad(to_hex(gw), 8, '0') || lpad(to_hex(gh), 8, '0')
          || '0802000000' || '00000000'
          || lpad(to_hex(rawlen + 11), 8, '0') || '49444154'
          || '7801' || '01'
          || ${leHex("rawlen", 2)} || ${leHex("(65535 - rawlen)", 2)}
          || array_to_string(list_transform(raw,
               v -> lpad(to_hex(v), 2, '0')), '')
          || lpad(to_hex(adb * 65536 + ada), 8, '0')
          || '00000000' || '00000000' || '49454E44' || '00000000' AS hx
      FROM padler)"""

  /** CTE chain `phdr → prec(media_id, w, h, y, x, r, g, b)` parsing
    * pixels back out of `ppay`'s bytes. Raw data starts at 1-based hex
    * byte 49 (8 sig + 25 IHDR + 8 IDAT hdr + 2 zlib + 5 stored-block
    * header); each row is one filter byte + 3w channel bytes. */
  val parseCtes: String = s"""phdr AS (
      SELECT media_id, hx, ${be4("hx", "17")} AS w, ${be4("hx", "21")} AS h,
        1 + 3 * ${be4("hx", "17")} AS rowbytes
      FROM ppay),
    pcols AS (
      SELECT media_id, w, h, p // w AS y, p % w AS x,
        ${byteAt("hx", "49 + (p // w) * rowbytes")} AS fb,
        ${byteAt("hx", "49 + (p // w) * rowbytes + 1 + 3 * (p % w)")} AS rawr,
        ${byteAt("hx", "49 + (p // w) * rowbytes + 1 + 3 * (p % w) + 1")} AS rawg,
        ${byteAt("hx", "49 + (p // w) * rowbytes + 1 + 3 * (p % w) + 2")} AS rawb
      FROM (SELECT media_id, hx, w, h, rowbytes,
          unnest(range(0, w * h)) AS p FROM phdr)),
    prec AS (
      SELECT media_id, w, h, y, x,
        CAST(CASE WHEN fb = 0 THEN rawr
          ELSE (sum(rawr) OVER win) % 256 END AS BIGINT) AS r,
        CAST(CASE WHEN fb = 0 THEN rawg
          ELSE (sum(rawg) OVER win) % 256 END AS BIGINT) AS g,
        CAST(CASE WHEN fb = 0 THEN rawb
          ELSE (sum(rawb) OVER win) % 256 END AS BIGINT) AS b
      FROM pcols
      WINDOW win AS (PARTITION BY media_id, y ORDER BY x
        ROWS UNBOUNDED PRECEDING))"""

  /** Gray-block feature pivot over `prec` (the BmpPixelsOracle
    * arithmetic, channel-order symmetric). */
  val featCtes: String = """pfeat AS (
      SELECT media_id, (y * w + x) * 4 // (w * h) AS d,
        CAST(sum(r + g + b) AS BIGINT) AS s3,
        CAST(count(*) AS BIGINT) AS c
      FROM prec GROUP BY 1, 2),
    pfpiv AS (
      SELECT media_id,
        round(max(CASE WHEN d = 0 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f0,
        round(max(CASE WHEN d = 1 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f1,
        round(max(CASE WHEN d = 2 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f2,
        round(max(CASE WHEN d = 3 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f3
      FROM pfeat GROUP BY 1)"""
}

/**
 * DuckDB replay of `ext_mm_png_pixels`: build the PNG hex, parse the
 * pixels back (filter-byte reconstruction), replay the gray-block
 * features, the factor-2 floor box resize and the resized-payload
 * byte accounting (a single-stored-block writePng re-encode of an
 * rw×rh image is exactly rh·(1+3·rw) + 68 bytes: 8 signature +
 * 25 IHDR + 12 IDAT framing + 11 zlib/stored overhead + raw + 12 IEND).
 */
private[queries] object PngPixelsOracle {
  import PngOracleFragments._
  val sql: String = s"""WITH ${buildCtes("0")},
    $parseCtes,
    $featCtes,
    prblk AS (
      SELECT media_id, x // 2 AS x2, y // 2 AS y2,
        CAST(sum(r) AS BIGINT) // count(*) AS cr,
        CAST(sum(g) AS BIGINT) // count(*) AS cg,
        CAST(sum(b) AS BIGINT) // count(*) AS cb
      FROM prec GROUP BY 1, 2, 3),
    prstat AS (
      SELECT media_id,
        round(CAST(sum(cr + cg + cb) AS DOUBLE) / (3.0 * count(*))
          + 1e-9, 6) AS r_mean
      FROM prblk GROUP BY 1),
    pdims AS (
      SELECT media_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        CAST((w + 1) // 2 AS BIGINT) AS rw,
        CAST((h + 1) // 2 AS BIGINT) AS rh,
        CAST(((h + 1) // 2) * (1 + 3 * ((w + 1) // 2)) + 68 AS BIGINT)
          AS r_bytes
      FROM phdr)
    SELECT d.media_id, d.w, d.h, d.r_bytes, d.rw, d.rh,
      f.f0, f.f1, f.f2, f.f3, rs.r_mean
    FROM pdims d
      JOIN pfpiv f ON f.media_id = d.media_id
      JOIN prstat rs ON rs.media_id = d.media_id"""
}

/**
 * DuckDB replay of `ext_mm_png_pixel_dedup`: rebuild every document's
 * BMP (bottom-up stride layout, the BmpPixelsOracle build) AND its PNG
 * (filtered stored-deflate stream), parse each format's pixels out of
 * its OWN bytes with that format's arithmetic, replay the shared
 * gray-block features, then group on (w, h, features) exactly like the
 * Spark side — distinct hex payloads stand in for the distinct payload
 * md5s (equal counts by construction). PNG media_ids shift by the same
 * derived max(doc_id)+1 stride as the Spark query.
 */
private[queries] object PngCrossFormatDedupOracle {
  import PngOracleFragments.{byteAt, be4, leHex}
  private def le4(h: String, p: String): String =
    s"(${byteAt(h, p)} + ${byteAt(h, s"$p + 1")} * 256 " +
      s"+ ${byteAt(h, s"$p + 2")} * 65536 " +
      s"+ ${byteAt(h, s"$p + 3")} * 16777216)"

  val sql: String = s"""WITH ${PngOracleFragments.buildCtes(
        "(SELECT max(doc_id) + 1 FROM documents)")},
    ${PngOracleFragments.parseCtes},
    ${PngOracleFragments.featCtes},
    pkeyed AS (
      SELECT hd.media_id, CAST(hd.w AS BIGINT) AS w,
        CAST(hd.h AS BIGINT) AS h, f.f0, f.f1, f.f2, f.f3, hd.hx
      FROM phdr hd JOIN pfpiv f ON f.media_id = hd.media_id),
    bgeom AS (SELECT doc_id, doc_id % 5 + 2 AS gw, doc_id % 4 + 2 AS gh,
        (doc_id % 5 + 2) * 3
          + (4 - ((doc_id % 5 + 2) * 3) % 4) % 4 AS gstride
      FROM documents),
    bpay AS (
      SELECT doc_id AS media_id,
        '424D' || ${leHex("(gstride * gh + 54)", 4)} || '00000000'
          || '36000000' || '28000000'
          || ${leHex("gw", 4)} || ${leHex("gh", 4)}
          || '0100' || '1800' || '00000000' || ${leHex("(gstride * gh)", 4)}
          || '00000000' || '00000000' || '00000000' || '00000000'
          || array_to_string(list_transform(range(0, gh), r ->
               array_to_string(list_transform(range(0, gw), x ->
                   lpad(to_hex((doc_id + x * 7 + (gh - 1 - r) * 13) % 256),
                     2, '0')
                || lpad(to_hex((doc_id * 3 + x * 5 + (gh - 1 - r)) % 256),
                     2, '0')
                || lpad(to_hex((doc_id * 2 + x + (gh - 1 - r) * 11) % 256),
                     2, '0')), '')
               || substr('000000', 1,
                    CAST((gstride - gw * 3) * 2 AS INT))), '') AS hx
      FROM bgeom),
    bhdr AS (
      SELECT media_id, hx,
        ${le4("hx", "19")} AS w, ${le4("hx", "23")} AS h,
        ${le4("hx", "11")} AS off,
        (${le4("hx", "19")} * 3 + 3) // 4 * 4 AS stride
      FROM bpay),
    bopx AS (
      SELECT media_id, w, h, p,
        ${byteAt("hx", "off + (h - 1 - p // w) * stride + (p % w) * 3 + 1")}
          AS b,
        ${byteAt("hx", "off + (h - 1 - p // w) * stride + (p % w) * 3 + 2")}
          AS g,
        ${byteAt("hx", "off + (h - 1 - p // w) * stride + (p % w) * 3 + 3")}
          AS r
      FROM (SELECT media_id, hx, w, h, off, stride,
          unnest(range(0, w * h)) AS p FROM bhdr)),
    bfeat AS (
      SELECT media_id, p * 4 // (w * h) AS d,
        CAST(sum(b + g + r) AS BIGINT) AS s3,
        CAST(count(*) AS BIGINT) AS c
      FROM bopx GROUP BY 1, 2),
    bfpiv AS (
      SELECT media_id,
        round(max(CASE WHEN d = 0 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f0,
        round(max(CASE WHEN d = 1 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f1,
        round(max(CASE WHEN d = 2 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f2,
        round(max(CASE WHEN d = 3 THEN CAST(s3 AS DOUBLE) / (3.0 * c) END)
          + 1e-9, 6) AS f3
      FROM bfeat GROUP BY 1),
    bkeyed AS (
      SELECT hd.media_id, CAST(hd.w AS BIGINT) AS w,
        CAST(hd.h AS BIGINT) AS h, f.f0, f.f1, f.f2, f.f3, hd.hx
      FROM bhdr hd JOIN bfpiv f ON f.media_id = hd.media_id),
    allkeyed AS (
      SELECT * FROM bkeyed UNION ALL SELECT * FROM pkeyed)
    SELECT CAST(min(media_id) AS BIGINT) AS keeper_id, w, h,
      CAST(count(*) AS BIGINT) AS n_members,
      CAST(count(DISTINCT hx) AS BIGINT) AS n_formats
    FROM allkeyed GROUP BY w, h, f0, f1, f2, f3"""
}

private[queries] object RealHeaderOracle {
  /** One payload byte (1-based position `p`) out of hex column `h`. */
  private def byteAt(h: String, p: String): String =
    s"((strpos('0123456789ABCDEF', substr($h, 2*($p) - 1, 1)) - 1) * 16 " +
      s"+ (strpos('0123456789ABCDEF', substr($h, 2*($p), 1)) - 1))"
  private def be2(h: String, p: String): String =
    s"(${byteAt(h, p)} * 256 + ${byteAt(h, s"$p + 1")})"
  private def be4(h: String, p: String): String =
    s"(${be2(h, p)} * 65536 + ${be2(h, s"$p + 2")})"
  private def le4(h: String, p: String): String =
    s"(${byteAt(h, p)} + ${byteAt(h, s"$p + 1")} * 256 " +
      s"+ ${byteAt(h, s"$p + 2")} * 65536 " +
      s"+ ${byteAt(h, s"$p + 3")} * 16777216)"
  /** v as a 2n-char big-endian hex string. */
  private def beHex(v: String, n: Int): String =
    s"lpad(to_hex($v), ${2 * n}, '0')"
  /** v as a 2n-char little-endian hex string (byte pairs reversed). */
  private def leHex(v: String, n: Int): String =
    (n - 1 to 0 by -1)
      .map(i => s"substr(${beHex(v, n)}, ${i * 2 + 1}, 2)")
      .mkString("(", " || ", ")")

  val sql: String = s"""WITH RECURSIVE docs AS (
      SELECT doc_id, hex(encode(text)) AS th,
             octet_length(encode(text)) AS tn
      FROM documents),
    wavf AS (
      SELECT doc_id, th, tn,
        doc_id % 2 + 1 AS ch,
        doc_id % 8 * 1000 + 8000 AS sr,
        (doc_id % 8 * 1000 + 8000) * (doc_id % 2 + 1) * 2 AS br,
        (least(tn, 2000) // 2) * 2 AS datasz,
        least((doc_id % 20) * 2 + 4, (least(tn, 2000) // 2) * 2) AS listlen
      FROM docs WHERE doc_id % 3 = 2),
    pay AS (
      SELECT doc_id,
        '89504E470D0A1A0A' || '0000000D' || '49484452'
          || ${beHex("doc_id % 640 + 16", 4)}
          || ${beHex("doc_id % 480 + 16", 4)}
          || '0802000000' || '00000000' || th AS h
      FROM docs WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id,
        'FFD8' || 'FFE000104A46494600010100000100010000'
          || 'FFFE' || ${beHex("least(doc_id % 40 + 1, tn) + 2", 2)}
          || substr(th, 1, CAST(least(doc_id % 40 + 1, tn) * 2 AS INT))
          || CASE WHEN doc_id % 2 = 0 THEN 'FFC0' ELSE 'FFC2' END
          || '0011' || '08'
          || ${beHex("doc_id % 384 + 8", 2)}
          || ${beHex("doc_id % 512 + 8", 2)}
          || '03' || '011100021101031101' || 'FFDA' || th || 'FFD9' AS h
      FROM docs WHERE doc_id % 3 = 1
      UNION ALL
      SELECT doc_id,
        '52494646'
          || ${leHex("CASE WHEN doc_id % 2 = 1 THEN listlen + 8 ELSE 0 END" +
                     " + 36 + datasz", 4)}
          || '57415645'
          || CASE WHEN doc_id % 2 = 1
               THEN '4C495354' || ${leHex("listlen", 4)}
                 || substr(th, 1, CAST(listlen * 2 AS INT))
               ELSE '' END
          || '666D7420' || '10000000' || '0100'
          || ${leHex("ch", 2)} || ${leHex("sr", 4)} || ${leHex("br", 4)}
          || ${leHex("ch * 2", 2)} || '1000'
          || '64617461' || ${leHex("datasz", 4)}
          || substr(th, 1, CAST(datasz * 2 AS INT)) AS h
      FROM wavf),
    jwalk AS (
      SELECT doc_id, CAST(3 AS BIGINT) AS pos,
        CAST(NULL AS BIGINT) AS w, CAST(NULL AS BIGINT) AS hh
      FROM pay WHERE substr(h, 1, 4) = 'FFD8'
      UNION ALL
      SELECT jw.doc_id,
        CASE WHEN ${byteAt("p.h", "jw.pos + 1")} IN (192, 193, 194)
               OR ${byteAt("p.h", "jw.pos + 1")} = 218
               OR ${byteAt("p.h", "jw.pos")} <> 255
               OR jw.pos + 8 > len(p.h) // 2
             THEN CAST(-1 AS BIGINT)
             WHEN ${byteAt("p.h", "jw.pos + 1")} = 255
             THEN jw.pos + 1 -- 0xFF fill byte: marker is first non-FF
             ELSE jw.pos + 2 + ${be2("p.h", "jw.pos + 2")} END AS pos,
        CASE WHEN ${byteAt("p.h", "jw.pos + 1")} IN (192, 193, 194)
               AND jw.pos + 8 <= len(p.h) // 2
             THEN ${be2("p.h", "jw.pos + 7")} END AS w,
        CASE WHEN ${byteAt("p.h", "jw.pos + 1")} IN (192, 193, 194)
               AND jw.pos + 8 <= len(p.h) // 2
             THEN ${be2("p.h", "jw.pos + 5")} END AS hh
      FROM jwalk jw JOIN pay p ON jw.doc_id = p.doc_id
      WHERE jw.pos > 0 AND jw.w IS NULL),
    jdims AS (
      SELECT doc_id, max(w) AS w, max(hh) AS hh FROM jwalk GROUP BY doc_id),
    wwalk AS (
      SELECT doc_id, CAST(13 AS BIGINT) AS pos,
        CAST(NULL AS BIGINT) AS rate, CAST(NULL AS BIGINT) AS db
      FROM pay WHERE substr(h, 1, 8) = '52494646'
        AND substr(h, 17, 8) = '57415645'
      UNION ALL
      SELECT ww.doc_id,
        CASE WHEN ww.pos + 7 > len(p.h) // 2 THEN CAST(-1 AS BIGINT)
             ELSE ww.pos + 8 + ${le4("p.h", "ww.pos + 4")}
                  + ${le4("p.h", "ww.pos + 4")} % 2 END AS pos,
        CASE WHEN ww.pos + 7 <= len(p.h) // 2
               AND substr(p.h, 2 * ww.pos - 1, 8) = '666D7420'
             THEN ${le4("p.h", "ww.pos + 16")} ELSE ww.rate END AS rate,
        CASE WHEN ww.pos + 7 <= len(p.h) // 2
               AND substr(p.h, 2 * ww.pos - 1, 8) = '64617461'
             THEN ${le4("p.h", "ww.pos + 4")} ELSE ww.db END AS db
      FROM wwalk ww JOIN pay p ON ww.doc_id = p.doc_id
      WHERE ww.pos > 0 AND (ww.rate IS NULL OR ww.db IS NULL)),
    wmeta AS (
      SELECT doc_id, max(rate) AS rate, max(db) AS db
      FROM wwalk GROUP BY doc_id)
    SELECT p.doc_id AS media_id,
      (['image','image','audio'])[CAST(p.doc_id % 3 AS INT) + 1]
        AS media_type,
      CASE WHEN substr(p.h, 1, 16) = '89504E470D0A1A0A'
             AND substr(p.h, 25, 8) = '49484452' THEN 'png'
           WHEN substr(p.h, 1, 4) = 'FFD8' THEN 'jpeg'
           WHEN substr(p.h, 1, 8) = '52494646'
             AND substr(p.h, 17, 8) = '57415645' THEN 'wav'
      END AS format,
      CAST(len(p.h) // 2 AS BIGINT) AS n_bytes,
      CAST(CASE WHEN substr(p.h, 1, 16) = '89504E470D0A1A0A'
                  AND substr(p.h, 25, 8) = '49484452'
                THEN ${be4("p.h", "17")}
                WHEN substr(p.h, 1, 4) = 'FFD8' THEN j.w
           END AS BIGINT) AS width,
      CAST(CASE WHEN substr(p.h, 1, 16) = '89504E470D0A1A0A'
                  AND substr(p.h, 25, 8) = '49484452'
                THEN ${be4("p.h", "21")}
                WHEN substr(p.h, 1, 4) = 'FFD8' THEN j.hh
           END AS BIGINT) AS height,
      CAST(CASE WHEN w.rate IS NOT NULL AND w.rate > 0 AND w.db IS NOT NULL
                THEN (w.db * 1000) // w.rate
           END AS BIGINT) AS duration_ms
    FROM pay p
    LEFT JOIN jdims j ON p.doc_id = j.doc_id
    LEFT JOIN wmeta w ON p.doc_id = w.doc_id"""
}
