package graft.multimodal

import java.nio.ByteOrder.{BIG_ENDIAN => BE, LITTLE_ENDIAN => LE}

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Tokens
import graft.operators.{ExactRound, OracleCtes}

/** Multimodal column plumbing (SURVEY.md §2F).
  *
  * Media are opaque `binary` columns with typed metadata beside them —
  * the layout a 100 TB image/audio corpus uses (bytes in parquet,
  * decode at point of use). The per-document container and codec
  * queries share two definitions (the shard codecs — tar, zip,
  * TFRecord, WebDataset, WARC, safetensors — build one file per shard
  * in `groupByKey.mapGroups` instead):
  *
  *  - Encode (and decode) per document in [[perDocument]], the one
  *    asset builder: a `(doc_id, text) => row` function applied in one
  *    mapPartitions pass over the parallelized documents. The codecs
  *    are REAL — genuine PNG/JPEG/GIF/BMP through the JDK's
  *    `javax.imageio`, WAV through `javax.sound`, zstd through zstd-jni,
  *    and hand-built containers for the rest — and the real-decode
  *    queries ([[featureExtract]], [[resize]], [[wavEnergy]], …)
  *    compute over the DECODED samples in the same function.
  *  - Parse the resulting `media` column declaratively: every unsigned
  *    integer comes out of [[uint]], the one byte-field reader (1-based
  *    Column offset, width, byte order → BIGINT), so container walks
  *    stay codegen'd column ops and higher-order `transform` /
  *    `filter` / `aggregate` lambdas over it.
  *
  * The testdata has no binary table, so assets are synthesized
  * deterministically from `documents.text` (UTF-8 bytes as the "blob";
  * for the image queries, as grayscale pixel data). Because the
  * synthesized content is a known function of the text and the
  * lossless codecs return it exactly, every parsed or decoded value is
  * analytically replayable — so even the real-codec path keeps a
  * bit-exact DuckDB oracle (a corpus of external images would drop to
  * the rows-only check, with the same plans).
  */
object Multimodal {

  /** Fixed image width for synthesized PNGs: text bytes fill a 64-wide
    * grayscale raster row-major, zero-padded to the last row. */
  private val ImgW = 64

  // keep ImageIO fully in-memory on executors (its default stream cache
  // spills through temp FILES — a per-image disk round trip)
  javax.imageio.ImageIO.setUseCache(false)

  /** The grayscale raster every image codec here encodes: pixel p
    * (row-major) = byte p of the UTF-8 text for p < n, else 0 (zero
    * padding in the last row), width `width` (min 1), height ⌈n/w⌉
    * (min 1) — the identity the oracles replay. */
  private def grayRaster(text: String, width: Int): java.awt.image.BufferedImage = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = bytes.length
    val w = math.max(1, width)
    val h = math.max(1, (n + w - 1) / w)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var p = 0
    while (p < w * h) {
      raster.setSample(p % w, p / w, 0, if (p < n) bytes(p) & 0xff else 0)
      p += 1
    }
    img
  }

  /** `img` through the JDK ImageIO writer for `format`. */
  private def imageIoBytes(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** Text → real PNG bytes of the [[grayRaster]] at the given width.
    * `width = n` yields a padding-free single-scanline image. PNG is
    * lossless, so `decodeGray(encodePng(t, w))` returns exactly the
    * raster's values. */
  private[graft] def encodePng(text: String, width: Int = ImgW): Array[Byte] =
    imageIoBytes(grayRaster(text, width), "png")

  /** Text → real baseline JPEG bytes, same raster construction as
    * [[encodePng]] (64-wide grayscale, zero-padded last row) through
    * the JDK's JPEG writer at its default quality. JPEG is LOSSY: the
    * decoded pixels are NOT analytic in the text (DCT quantization),
    * so — unlike the PNG path — only decode-independent header fields
    * (dimensions, precision, component count) stay bit-exact
    * oracle-able; pixel statistics are spec-bounded instead
    * (MultimodalSpec's mixed-corpus test). This is the honest shape of
    * a real crawled-image corpus, which is mostly JPEG. */
  private[graft] def encodeJpeg(text: String, width: Int = ImgW): Array[Byte] =
    imageIoBytes(grayRaster(text, width), "jpg")

  /** [[encodeJpeg]] with an EXIF APP1 segment spliced in directly after
    * SOI — how camera/phone JPEGs actually arrive in a crawl. The APP1
    * payload is a little-endian TIFF blob (the EXIF container format)
    * holding a 2-entry IFD0: Orientation (tag 274, SHORT, inline) and
    * DateTime (tag 306, ASCII 20, stored at an OFFSET past the IFD —
    * the two storage classes an EXIF reader must handle). Both values
    * are deterministic functions of `id` so the oracle recomputes them
    * analytically; the result is still a REAL decodable JPEG (readers
    * skip unknown APP segments — Round6Spec pins the decode). */
  private[graft] def encodeExifJpeg(id: Long, text: String): Array[Byte] = {
    val jpeg = encodeJpeg(text)
    val orientation = 1 + (id % 8).toInt
    val dt = f"2024:${1 + id % 12}%02d:${1 + id % 28}%02d ${id % 24}%02d:${id % 60}%02d:${id % 60}%02d"
    val dtBytes = (dt + "\u0000").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    require(dtBytes.length == 20, s"EXIF DateTime must be 20 bytes, got ${dtBytes.length}")
    // TIFF blob: header(8) + count(2) + 2 entries(24) + nextIFD(4) = 38,
    // then the ASCII DateTime at offset 38 (relative to the TIFF base)
    val tiff = java.nio.ByteBuffer.allocate(38 + 20)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    tiff.putShort(2)
    tiff.putShort(274.toShort).putShort(3).putInt(1)
      .putShort(orientation.toShort).putShort(0) // SHORT value, LE-padded
    tiff.putShort(306.toShort).putShort(2).putInt(20).putInt(38)
    tiff.putInt(0) // next IFD
    tiff.put(dtBytes)
    val exifSig = Array[Byte]('E', 'x', 'i', 'f', 0, 0)
    val app1Len = 2 + exifSig.length + tiff.capacity()
    val out = java.nio.ByteBuffer.allocate(jpeg.length + 2 + app1Len)
    out.put(jpeg, 0, 2) // SOI
    out.put(0xFF.toByte).put(0xE1.toByte)
    out.putShort(app1Len.toShort) // BE — JPEG segment lengths are big-endian
    out.put(exifSig).put(tiff.array())
    out.put(jpeg, 2, jpeg.length - 2)
    out.array()
  }

  /** [[encodeExifJpeg]] plus a planted GPS block — the PII every
    * privacy pipeline must strip from crawled photos: IFD0 gains a
    * GPSInfo pointer (tag 34853) to a GPS sub-IFD carrying
    * GPSLatitudeRef (inline ASCII) and GPSLatitude (3 RATIONALs
    * derived from the id). Layout: header(8) + IFD0(2+3·12+4=42) +
    * DateTime(20 @ 50) + GPS IFD(2+2·12+4=30 @ 70) + rationals(24
    * @ 100). */
  private[graft] def encodeExifGpsJpeg(id: Long, text: String): Array[Byte] = {
    val jpeg = encodeJpeg(text)
    val orientation = 1 + (id % 8).toInt
    val dt = f"2024:${1 + id % 12}%02d:${1 + id % 28}%02d ${id % 24}%02d:${id % 60}%02d:${id % 60}%02d"
    val dtBytes = (dt + "\u0000").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val tiff = java.nio.ByteBuffer.allocate(124)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    tiff.putShort(3)
    tiff.putShort(274.toShort).putShort(3).putInt(1)
      .putShort(orientation.toShort).putShort(0)
    tiff.putShort(306.toShort).putShort(2).putInt(20).putInt(50)
    tiff.putShort(34853.toShort).putShort(4).putInt(1).putInt(70)
    tiff.putInt(0) // next IFD
    tiff.put(dtBytes) // @50
    // GPS IFD @70
    tiff.putShort(2)
    tiff.putShort(1.toShort).putShort(2).putInt(2)
      .put('N'.toByte).put(0.toByte).putShort(0) // GPSLatitudeRef inline
    tiff.putShort(2.toShort).putShort(5).putInt(3).putInt(100) // GPSLatitude
    tiff.putInt(0)
    // 3 rationals @100: deg/min/sec derived from the id
    tiff.putInt((id % 90).toInt).putInt(1)
    tiff.putInt((id % 60).toInt).putInt(1)
    tiff.putInt((id % 6000).toInt).putInt(100)
    val exifSig = Array[Byte]('E', 'x', 'i', 'f', 0, 0)
    val app1Len = 2 + exifSig.length + tiff.capacity()
    val out = java.nio.ByteBuffer.allocate(jpeg.length + 2 + app1Len)
    out.put(jpeg, 0, 2)
    out.put(0xFF.toByte).put(0xE1.toByte)
    out.putShort(app1Len.toShort)
    out.put(exifSig).put(tiff.array())
    out.put(jpeg, 2, jpeg.length - 2)
    out.array()
  }

  /** EXIF GPS SCRUBBER — real metadata surgery, not re-encoding: parse
    * the APP1 TIFF's IFD0 into (tag, type, count, value) entries, DROP
    * tag 34853 (GPSInfo) and everything it points at, and re-serialize
    * canonically (entries in tag order, out-of-line data appended in
    * entry order after the IFD — exactly [[encodeExifJpeg]]'s layout,
    * which is what makes the byte-identity certificate below possible).
    * Image bytes after the APP1 segment pass through untouched. Only
    * the II byte order and the value types the corpus emits are
    * handled; anything unexpected throws rather than silently emitting
    * a wrong "scrubbed" file — the only safe failure mode for a PII
    * pass. */
  private[graft] def stripExifGps(bytes: Array[Byte]): Array[Byte] = {
    def u16be(o: Int) = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    require((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8, "not a JPEG")
    require((bytes(2) & 0xff) == 0xff && (bytes(3) & 0xff) == 0xe1, "no APP1")
    val app1Len = u16be(4)
    val tiffBase = 12 // SOI(2) + marker(2) + len(2) + "Exif\0\0"(6)
    val bb = java.nio.ByteBuffer.wrap(bytes, tiffBase, app1Len - 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bb.get() == 'I' && bb.get() == 'I', "only II byte order emitted here")
    require(bb.getShort() == 42)
    val ifd0 = bb.getInt()
    def rel(p: Int) = tiffBase + p
    val n = java.nio.ByteBuffer.wrap(bytes, rel(ifd0), 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort()
    case class Entry(tag: Int, typ: Int, count: Int, inline: Array[Byte], data: Array[Byte])
    val typeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 8)
    val entries = (0 until n).map { i =>
      val eo = rel(ifd0) + 2 + 12 * i
      val eb = java.nio.ByteBuffer.wrap(bytes, eo, 12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val tag = eb.getShort() & 0xffff
      val typ = eb.getShort() & 0xffff
      val count = eb.getInt()
      val valueBytes = typeSize(typ) * count
      val inline = java.util.Arrays.copyOfRange(bytes, eo + 8, eo + 12)
      val data =
        if (valueBytes <= 4) Array.emptyByteArray
        else {
          val off = java.nio.ByteBuffer.wrap(inline)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt()
          java.util.Arrays.copyOfRange(bytes, rel(off), rel(off) + valueBytes)
        }
      Entry(tag, typ, count, inline, data)
    }
    val kept = entries.filter(_.tag != 34853).sortBy(_.tag)
    val ifdBytes = 2 + 12 * kept.length + 4
    var dataOff = 8 + ifdBytes
    val tiffSize = 8 + ifdBytes + kept.map(_.data.length).sum
    val out = java.nio.ByteBuffer.allocate(tiffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    out.putShort(kept.length.toShort)
    kept.foreach { e =>
      out.putShort(e.tag.toShort).putShort(e.typ.toShort).putInt(e.count)
      if (e.data.isEmpty) out.put(e.inline)
      else { out.putInt(dataOff); dataOff += e.data.length }
    }
    out.putInt(0)
    kept.foreach(e => if (e.data.nonEmpty) out.put(e.data))
    val exifSig = Array[Byte]('E', 'x', 'i', 'f', 0, 0)
    val newApp1 = 2 + exifSig.length + tiffSize
    // the APP1 segment spans marker(2) + payload(app1Len) starting at 2
    val rest = java.util.Arrays.copyOfRange(bytes, 4 + app1Len, bytes.length)
    val res = java.nio.ByteBuffer.allocate(2 + 2 + newApp1 + rest.length)
    res.put(bytes, 0, 2)
    res.put(0xFF.toByte).put(0xE1.toByte).putShort(newApp1.toShort)
    res.put(exifSig).put(out.array()).put(rest)
    res.array()
  }

  /** EXIF GPS SCRUB certificate — media PII removal ([[graft.operators.TextAnalysis]]'s
    * t_scrub for photos): every asset is encoded WITH a GPS block
    * ([[encodeExifGpsJpeg]]), passed through the real parse→filter→
    * re-serialize surgery ([[stripExifGps]]), and certified three ways:
    * `scrub_exact` — the scrubbed bytes are IDENTICAL to the
    * GPS-free encoding of the same asset (canonical re-serialization
    * makes the strongest possible claim: not "GPS looks gone" but
    * "byte-for-byte the file that never had it"); `gps_gone` — a
    * declarative re-parse of the scrubbed IFD finds no tag 34853; and
    * the surviving metadata (orientation, DateTime) re-parsed intact.
    * The JPEG image stream passes through untouched by construction.
    * Scale shape: surgery is per-row JVM work in the [[perDocument]]
    * pass (byte slicing, no codec), the verification parse is
    * codegen'd column ops. */
  def exifScrub(s: SparkSession, d: String): DataFrame = {
    val rows = perDocument(s, d) { (id, t) =>
        val withGps = encodeExifGpsJpeg(id, t)
        val scrubbed = stripExifGps(withGps)
        val reference = encodeExifJpeg(id, t)
        (id, scrubbed, withGps.length.toLong,
          java.util.Arrays.equals(scrubbed, reference))
      }
      .toDF("asset_id", "media", "gps_bytes", "scrub_exact")
    // TIFF base is 1-based byte 13 (SOI 2 + APP1 marker 2 + len 2 +
    // "Exif\0\0" 6); IFD0 count at +8, entries at +10/+22, orientation
    // value at entry0+8, DateTime data at TIFF offset 38 (byte 51)
    rows.select(col("asset_id"),
        col("scrub_exact"),
        uint(lit(21), 2, LE).as("n_entries"),
        (uint(lit(23), 2, LE) =!= 34853L && uint(lit(35), 2, LE) =!= 34853L).as("gps_gone"),
        uint(lit(31), 2, LE).as("orientation"),
        expr("string(substring(media, 51, 19))").as("datetime"),
        (col("gps_bytes") - expr("length(media)")).as("bytes_removed"))
      .orderBy("asset_id")
  }

  /** Analytic oracle: scrub identity + GPS-block arithmetic (the GPS
    * variant carries 66 more TIFF bytes: one IFD0 entry (12) + GPS IFD
    * (30) + rationals (24)). */
  val exifScrubSql: String =
    """SELECT doc_id AS asset_id, TRUE AS scrub_exact,
      |  CAST(2 AS BIGINT) AS n_entries, TRUE AS gps_gone,
      |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
      |  printf('2024:%02d:%02d %02d:%02d:%02d',
      |    1 + doc_id % 12, 1 + doc_id % 28, doc_id % 24, doc_id % 60, doc_id % 60)
      |    AS datetime,
      |  CAST(66 AS BIGINT) AS bytes_removed
      |FROM documents ORDER BY asset_id""".stripMargin

  /** Text → real GIF bytes, same raster construction as [[encodePng]]
    * through the JDK's GIF writer. GIF is palette-indexed (≤256
    * colors) and the raster is 8-bit grayscale, so — like PNG and
    * unlike JPEG — the encode is LOSSLESS; note the reader returns
    * palette INDICES as raster samples, so the round-trip must resolve
    * through the color model (getRGB — Round6Spec pins it), not
    * [[decodeGray]]'s raw-sample shortcut. The web-crawl relevance: GIF is
    * the third format a real image corpus actually contains, and its
    * header is LITTLE-endian where PNG's is big — the parse path worth
    * gating separately. */
  private[graft] def encodeGif(text: String, width: Int = ImgW): Array[Byte] = {
    val img = grayRaster(text, width)
    val bos = new java.io.ByteArrayOutputStream()
    // the JDK writer's DEFAULT metadata sets the interlace flag, and
    // the JDK READER mis-renders small interlaced GIFs (verified by
    // hand-decoding the LZW stream: the written scanlines are correct
    // interlace order; the reader places them wrong). Non-interlaced
    // output sidesteps the reader bug AND gives deterministic
    // scanline order for any downstream parser.
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally {
      writer.dispose(); ios.close()
    }
    bos.toByteArray
  }

  /** Text → a minimal little-endian TIFF: "II*\0" header, IFD0 at
    * offset 8 with six SHORT/LONG entries (ImageWidth 256, ImageLength
    * 257, BitsPerSample 258, Compression 259=1, StripOffsets 273,
    * StripByteCounts 279), zero next-IFD pointer, then the raw
    * grayscale strip (the [[encodePng]] raster bytes). Hand-built like
    * [[encodeAvi]] — the encoder is the oracle. TIFF is the one
    * container here whose metadata is reached by FOLLOWING AN OFFSET
    * (the IFD pointer) rather than sitting at a fixed position — the
    * EXIF layout, which is a TIFF IFD inside a JPEG APP1 segment. */
  private[graft] def encodeTiff(text: String, width: Int = ImgW): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = bytes.length
    val w = math.max(1, width)
    val h = math.max(1, (n + w - 1) / w)
    val nEntries = 6
    val dataOff = 8 + 2 + nEntries * 12 + 4
    val bb = java.nio.ByteBuffer.allocate(dataOff + w * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, value: Int): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(1).putInt(value); ()
    }
    entry(256, 3, w)          // ImageWidth, SHORT
    entry(257, 3, h)          // ImageLength, SHORT
    entry(258, 3, 8)          // BitsPerSample, SHORT
    entry(259, 3, 1)          // Compression = none, SHORT
    entry(273, 4, dataOff)    // StripOffsets, LONG
    entry(279, 4, w * h)      // StripByteCounts, LONG
    bb.putInt(0)              // next IFD
    var p = 0
    while (p < w * h) { bb.put(if (p < n) bytes(p) else 0.toByte); p += 1 }
    bb.array()
  }

  /** Text → a minimal MPEG-1 Layer III (MP3) elementary stream: a
    * sequence of real frames, each a 4-byte big-endian header (11-bit
    * sync, version 11 = MPEG-1, layer 01 = III, no CRC → 0xFF 0xFB)
    * followed by filler payload. Per-frame VARIABLE bitrate and
    * padding are driven by the document's codepoints (cyclic), so a
    * parser must actually read every header to find the next frame:
    * frame i picks bitrate {64, 96, 128, 160} kbps (table indices
    * 5/7/9/10) from cp % 4 and the padding bit from (cp / 4) % 2.
    * Sample rate is pinned at 48 kHz (index 01) so the Layer III
    * frame-length formula 144·bitrate/48000 + pad = 3·kbps + pad is
    * exact integer arithmetic — no rounding divergence channel.
    * Frame count = 4 + len % 5 (0 for empty text). */
  private[graft] def encodeMp3(text: String): Array[Byte] = {
    val cps = text.codePoints().toArray
    if (cps.isEmpty) return Array.emptyByteArray
    val n = 4 + cps.length % 5
    val out = new java.io.ByteArrayOutputStream(n * 484)
    val idxOf = Array(5, 7, 9, 10)
    var i = 0
    while (i < n) {
      val cp = cps(i % cps.length)
      val bi = cp % 4
      val pad = (cp / 4) % 2
      val kbps = 64 + 32 * bi
      val frameLen = 3 * kbps + pad
      out.write(0xff); out.write(0xfb)
      out.write((idxOf(bi) << 4) | (1 << 2) | (pad << 1))
      out.write(0xc4)
      var j = 4
      while (j < frameLen) { out.write(0x55); j += 1 }
      i += 1
    }
    out.toByteArray
  }

  /** Text → a minimal ISO BMFF (MP4) file: `ftyp` (isom), `moov`
    * holding a v0 `mvhd` (timescale 1000, duration 40 ms/byte) plus
    * one `trak`(`tkhd`) per track (1 + len % 2 tracks), then `mdat`
    * carrying the raw text. Big-endian u32-size + fourcc boxes,
    * hand-built like [[encodeAvi]]/[[encodeTiff]] — the encoder is
    * the oracle. MP4 is the container class the corpus was missing:
    * SEQUENTIALLY WALKED boxes (offset_{i+1} = offset_i + size_i, a
    * fold) with NESTED children, vs TIFF's single followed offset and
    * AVI's fixed-layout chunks. */
  private[graft] def encodeMp4(text: String): Array[Byte] = {
    val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val nTraks = 1 + (payload.length % 2)
    val durationMs = payload.length * 40
    def box(t: String, content: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + content.length) // BE default
      bb.putInt(8 + content.length)
        .put(t.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        .put(content)
      bb.array()
    }
    val ftyp = box("ftyp", java.nio.ByteBuffer.allocate(16)
      .put("isom".getBytes).putInt(0x200).put("isom".getBytes).put("mp41".getBytes)
      .array())
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0)            // version 0 + flags
        .putInt(0).putInt(0)  // creation, modification
        .putInt(1000)         // timescale
        .putInt(durationMs)   // duration (ms at timescale 1000)
        .putInt(0x00010000)   // rate 1.0
        .putShort(0x0100.toShort) // volume 1.0
      bb.position(96)
      bb.putInt(nTraks + 1)   // next_track_ID
      box("mvhd", bb.array())
    }
    def trak(id: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.putInt(7)            // version 0 + flags: enabled|in-movie|in-preview
        .putInt(0).putInt(0)  // creation, modification
        .putInt(id)           // track_ID
        .putInt(0)            // reserved
        .putInt(durationMs)   // duration
      bb.position(76)
      bb.putInt(320 << 16).putInt(240 << 16) // width, height (16.16 fixed)
      box("trak", box("tkhd", bb.array()))
    }
    val moov = box("moov", mvhd ++ (1 to nTraks).flatMap(trak).toArray)
    ftyp ++ moov ++ box("mdat", payload)
  }

  /** Real image decode via the JDK: (width, height, gray samples in
    * row-major order). Works for any grayscale-decodable image, not
    * just the synthesized ones. */
  private[graft] def decodeGray(png: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    val px = new Array[Int](w * h)
    var p = 0
    while (p < px.length) { px(p) = raster.getSample(p % w, p / w, 0); p += 1 }
    (w, h, px)
  }

  /** Text → real WAV bytes (16-bit signed PCM, mono, 8 kHz): sample i =
    * (byte i − 64)·256 — a deterministic, exactly-invertible map of the
    * ASCII range onto the 16-bit amplitude range. Encoded through
    * `javax.sound.sampled.AudioSystem` (RIFF/WAVE container, the format
    * [[sniff]]'s magic table already recognizes); PCM is lossless, so
    * decode returns these exact samples. */
  private[graft] def encodeWav(text: String): Array[Byte] = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val pcm = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val sample = ((bytes(i) & 0xff) - 64) * 256
      pcm(2 * i) = (sample & 0xff).toByte // little-endian
      pcm(2 * i + 1) = ((sample >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, bytes.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real audio decode via the JDK: 16-bit signed little-endian PCM
    * samples out of any WAV the `AudioSystem` reader accepts. */
  private[graft] def decodePcm(wav: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val raw = ais.readAllBytes()
    val out = new Array[Int](raw.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((raw(2 * i + 1).toInt << 8) | (raw(2 * i) & 0xff))
      i += 1
    }
    out
  }

  /** The documents scan every per-document query starts from, spread
    * over the cores ([[Tables.parallelize]]). */
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))

  /** The one asset builder: `f(doc_id, text)` for every document, in one
    * mapPartitions pass over [[docs]]. Codecs are imperative per-row
    * work, so each query's encode (and, for the real-decode queries,
    * decode) lives in `f`; everything after it is declarative column
    * work on the result. */
  private def perDocument[T <: Product : TypeTag](s: SparkSession, d: String)(
      f: (Long, String) => T): Dataset[T] = {
    import s.implicits._
    docs(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map(f.tupled))
  }

  /** The one byte-field reader: the unsigned integer in `width` bytes of
    * `media` from the 1-based `off`, in byte order `order`, as BIGINT.
    * Each byte is a codegen'd substring + hex + conv, so `off` may be
    * any integral Column, a lambda variable inside `transform` or
    * `aggregate` included. A byte past the end of `media` reads NULL,
    * and so does any field that reaches past the end. Callers whose
    * output column is INT cast there. */
  private[graft] def uint(off: Column, width: Int, order: java.nio.ByteOrder): Column = {
    val pos = off.cast("int")
    (0 until width).map { i =>
      val b = conv(hex(col("media").substr(if (i == 0) pos else pos + i, lit(1))), 16, 10)
        .cast("long")
      val shift = 8 * (if (order == LE) i else width - 1 - i)
      if (shift == 0) b else b * (1L << shift)
    }.reduce(_ + _)
  }

  /** documents → (asset_id, media: binary, n_chars metadata). */
  def assets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("asset_id"),
      to_binary(col("text"), lit("utf-8")).as("media"),
      col("n_chars"))

  /** Typed metadata extraction over the binary column: size + checksum.
    * Pure map-side column ops — a full-corpus metadata pass at 100 TB is
    * one scan with no shuffle. */
  def binaryMeta(s: SparkSession, d: String): DataFrame =
    assets(s, d)
      .select(col("asset_id"),
        length(col("media")).cast("bigint").as("n_bytes"),
        md5(col("media")).as("checksum"))
      .orderBy("asset_id")

  val binaryMetaSql: String =
    """SELECT doc_id AS asset_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | md5(text) AS checksum
      |FROM documents ORDER BY asset_id""".stripMargin

  /** Frame sampling: one row per sampled frame of each "video" asset
    * (1 frame per 100 bytes at 25 fps). explode(sequence(...)) is the
    * Spark-native row generator — no driver loop, parallel per asset. */
  def frameSample(s: SparkSession, d: String): DataFrame =
    assets(s, d)
      .select(col("asset_id"),
        explode(sequence(lit(0L), (col("n_chars") / 100L).cast("long"))).as("frame_idx"))
      .select(col("asset_id"), col("frame_idx"),
        round(col("frame_idx") * 0.04, 2).as("frame_ts"))
      .orderBy("asset_id", "frame_idx")

  val frameSampleSql: String =
    """SELECT asset_id, frame_idx, round(frame_idx * 0.04, 2) AS frame_ts
      |FROM (
      |  SELECT doc_id AS asset_id,
      |    unnest(generate_series(0, CAST(n_chars // 100 AS BIGINT))) AS frame_idx
      |  FROM documents
      |)
      |ORDER BY asset_id, frame_idx""".stripMargin

  /** Real-decode feature extractor: encode each document as a genuine
    * PNG, then `ImageIO.read` it back on the executor and compute
    * features over the DECODED pixels — true image dimensions plus the
    * L2 norm of an 8-bin pixel-value histogram. Encode, decode and
    * features run row by row in the one [[perDocument]] pass, the
    * shape a model decode takes at scale (codec work stays inside the
    * partition; only the feature row leaves it); swapping the gray
    * histogram for a CNN forward pass changes only the function applied
    * to `px`. */
  def featureExtract(s: SparkSession, d: String): DataFrame = {
    perDocument(s, d) { (id, text) =>
        val (w, h, px) = decodeGray(encodePng(text))
        val hist = new Array[Long](8)
        var i = 0
        while (i < px.length) { hist(px(i) % 8) += 1; i += 1 }
        val norm = math.sqrt(hist.map(x => x.toDouble * x).sum)
        (id, w, h, norm)
      }
      .toDF("asset_id", "width", "height", "feat_norm")
      .withColumn("feat_norm", ExactRound.r(col("feat_norm"), 6))
      .orderBy("asset_id")
  }

  /** SQL twin of [[featureExtract]]: PNG is lossless, so decoded pixels
    * are text bytes (ASCII corpus: chars == bytes) plus `64·⌈n/64⌉ − n`
    * zero-padding pixels in the last row — both analytically replayable.
    * Counts are exact integers and IEEE sqrt is correctly rounded, so
    * the real-codec path keeps a bit-exact oracle. */
  val featureExtractSql: String =
    s"""WITH dims AS (
      |  SELECT doc_id, length(text) AS n,
      |    greatest((length(text) + 63) // 64, 1) AS h
      |  FROM documents
      |), chars AS (
      |  SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text FROM documents
      |), hist AS (
      |  SELECT doc_id, ord(substr(text, i, 1)) % 8 AS bin, count(*) AS cnt
      |  FROM chars GROUP BY 1, 2
      |), histp AS (
      |  SELECT doc_id, bin, cnt FROM hist
      |  UNION ALL
      |  -- the zero-padding pixels of the last row land in bin 0
      |  SELECT doc_id, 0 AS bin, 64 * h - n AS cnt FROM dims WHERE 64 * h - n > 0
      |), hh AS (
      |  SELECT doc_id, bin, sum(cnt) AS cnt FROM histp GROUP BY 1, 2
      |), nrm AS (
      |  SELECT doc_id, ${graft.operators.ExactRound.rSql("sqrt(sum(CAST(cnt AS DOUBLE) * cnt))", 6)} AS feat_norm
      |  FROM hh GROUP BY doc_id
      |)
      |SELECT d.doc_id AS asset_id, 64 AS width, CAST(d.h AS INT) AS height,
      |  n.feat_norm
      |FROM dims d JOIN nrm n USING (doc_id)
      |ORDER BY asset_id""".stripMargin

  /** REAL container parsing over the binary column: the PNG IHDR fields
    * (width, height, bit depth, color type) read straight out of the
    * blob's header bytes — signature check on bytes 1-8, big-endian
    * 32-bit ints at offsets 17/21, depth/color at 25/26 (PNG spec layout:
    * 8-byte signature, 4-byte chunk length, "IHDR", then the fields).
    * All declarative column ops (the [[uint]] byte-field reader), so
    * the parse is codegen'd and map-side — the metadata pass that runs
    * BEFORE any decode at 100 TB (a corrupt header never reaches the
    * codec). Oracle: the assets are [[encodePng]]'s own output, so every
    * field is an analytic function of the document length. */
  def pngMeta(s: SparkSession, d: String): DataFrame = {
    perDocument(s, d)((id, text) => (id, encodePng(text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (hex(substring(col("media"), 1, 8)) === "89504E470D0A1A0A").as("valid_sig"),
        uint(lit(17), 4, BE).cast("int").as("width"),
        uint(lit(21), 4, BE).cast("int").as("height"),
        uint(lit(25), 1, BE).cast("int").as("bit_depth"),
        uint(lit(26), 1, BE).cast("int").as("color_type"))
      .orderBy("asset_id")
  }

  /** The synthesized rasters are 64-wide, ⌈n/64⌉-high (min 1), 8-bit
    * grayscale (PNG color type 0) — the IHDR must say exactly that. */
  val pngMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_sig,
      |  64 AS width,
      |  CAST(greatest((length(text) + 63) // 64, 1) AS INT) AS height,
      |  8 AS bit_depth, 0 AS color_type
      |FROM documents ORDER BY asset_id""".stripMargin

  /** Text → a real RIFF/AVI container (the same RIFF machinery as
    * [[encodeWav]]'s WAVE files, which [[sniff]] and [[wavMeta]]
    * already parse): one 8×8 8-bit 'DIB ' video stream at 25 fps,
    * ⌈bytes/64⌉ (min 1) raw '00db' frames of 64 bytes each (text bytes
    * row-major, zero-padded), a standards-layout hdrl (avih + strh +
    * strf/BITMAPINFOHEADER) and a genuine 'idx1' index — one 16-byte
    * entry per frame (ckid, AVIIF_KEYFRAME, offset from the 'movi'
    * fourcc, size). Deterministic layout (fixed header sizes, fixed
    * frame size) so every field the parser reads is an analytic
    * function of the text length — the encoder is the oracle, exactly
    * the [[encodeWav]] contract. */
  private[graft] def encodeAvi(text: String): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.max(1, (bytes.length + 63) / 64)
    val total = 232 + 88 * n
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String): Unit = { bb.put(s.getBytes("US-ASCII")); () }
    fcc("RIFF"); bb.putInt(total - 8); fcc("AVI ")
    fcc("LIST"); bb.putInt(192); fcc("hdrl")
    fcc("avih"); bb.putInt(56)
    bb.putInt(40000); bb.putInt(0); bb.putInt(0) // usec/frame (25 fps), maxBps, padding
    bb.putInt(0x10)                              // AVIF_HASINDEX
    bb.putInt(n); bb.putInt(0); bb.putInt(1)     // totalFrames, initialFrames, streams
    bb.putInt(64); bb.putInt(8); bb.putInt(8)    // suggestedBuf, width, height
    (1 to 4).foreach(_ => bb.putInt(0))          // dwReserved[4]
    fcc("LIST"); bb.putInt(116); fcc("strl")
    fcc("strh"); bb.putInt(56)
    fcc("vids"); fcc("DIB ")
    bb.putInt(0); bb.putInt(0); bb.putInt(0)     // flags, prio/lang, initialFrames
    bb.putInt(1); bb.putInt(25)                  // scale, rate => 25 fps
    bb.putInt(0); bb.putInt(n)                   // start, length (frames)
    bb.putInt(64); bb.putInt(0); bb.putInt(0)    // suggestedBuf, quality, sampleSize
    bb.putLong(0L)                               // rcFrame
    fcc("strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(8); bb.putInt(8)    // biSize, biWidth, biHeight
    bb.putShort(1); bb.putShort(8)               // biPlanes, biBitCount
    bb.putInt(0); bb.putInt(64)                  // biCompression (BI_RGB), biSizeImage
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    fcc("LIST"); bb.putInt(4 + 72 * n); fcc("movi")
    var i = 0
    while (i < n) {
      fcc("00db"); bb.putInt(64)
      var p = 0
      while (p < 64) {
        val src = i * 64 + p
        bb.put(if (src < bytes.length) bytes(src) else 0: Byte)
        p += 1
      }
      i += 1
    }
    fcc("idx1"); bb.putInt(16 * n)
    i = 0
    while (i < n) {
      fcc("00db"); bb.putInt(0x10)               // AVIIF_KEYFRAME
      bb.putInt(4 + 72 * i); bb.putInt(64)       // offset from 'movi' fourcc, size
      i += 1
    }
    bb.array()
  }

  /** REAL frame-index parse over a video container — the upgrade the
    * round-4 verdict asked of [[frameSample]]'s pseudo-frames: per
    * frame, the byte offset/size/keyframe flag read from the AVI
    * 'idx1' index, with the container walked from its own LENGTH
    * FIELDS (riff → avih at the fixed hdrl layout for n_frames and
    * fps; the movi LIST's size dword locates idx1 — nothing is derived
    * from the text). All declarative: `Column.substr` takes COLUMN
    * offsets, so even the per-frame reads at
    * idx1 + 8 + 16·frame_idx are codegen'd binary substrings — one
    * scan, no shuffle, no codec; the frame PAYLOADS are never touched
    * (that is the point of an index: at 100 TB a frame sampler seeks
    * straight to keyframe offsets instead of demuxing the stream). */
  def framesMeta(s: SparkSession, d: String): DataFrame = {
    def fourcc(off: Column) =
      decode(unbase64(base64(col("media").substr(off.cast("int"), lit(4)))), "US-ASCII")
    val idxOff = uint(lit(217), 4, LE) + 221L // 'idx1' fourcc: movi LIST content end
    perDocument(s, d)((id, text) => (id, encodeAvi(text))).toDF("asset_id", "media")
      .select(col("asset_id"), col("media"),
        (hex(col("media").substr(lit(1), lit(4))) === "52494646" &&
          hex(col("media").substr(lit(9), lit(4))) === "41564920" &&
          fourcc(idxOff) === "idx1").as("valid_avi"),
        (lit(1000000L) / uint(lit(33), 4, LE)).cast("long").as("fps"),
        uint(lit(49), 4, LE).as("n_frames"),
        uint(lit(65), 4, LE).as("width"), uint(lit(69), 4, LE).as("height"),
        (idxOff + 8L).as("idx_base"))
      .select(col("asset_id"), col("media"), col("valid_avi"), col("fps"),
        col("n_frames"), col("width"), col("height"),
        explode(sequence(lit(0L), col("n_frames") - 1L)).as("frame_idx"),
        col("idx_base"))
      .select(col("asset_id"), col("valid_avi"), col("fps"),
        col("n_frames"), col("width"), col("height"), col("frame_idx"),
        fourcc(col("idx_base") + col("frame_idx") * 16L).as("frame_ckid"),
        ((uint(col("idx_base") + col("frame_idx") * 16L + 4L, 4, LE)
          .cast("int").bitwiseAND(lit(0x10))) =!= 0).as("keyframe"),
        uint(col("idx_base") + col("frame_idx") * 16L + 8L, 4, LE).as("frame_offset"),
        uint(col("idx_base") + col("frame_idx") * 16L + 12L, 4, LE).as("frame_bytes"))
      .orderBy("asset_id", "frame_idx")
  }

  /** The encoder's layout, analytically: n = ⌈bytes/64⌉ (min 1)
    * frames, entry offsets 4 + 72·i from the 'movi' fourcc, 64-byte
    * keyframes. */
  val framesMetaSql: String =
    """SELECT asset_id, TRUE AS valid_avi,
      |  CAST(25 AS BIGINT) AS fps, CAST(n AS BIGINT) AS n_frames,
      |  CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
      |  CAST(frame_idx AS BIGINT) AS frame_idx,
      |  '00db' AS frame_ckid, TRUE AS keyframe,
      |  CAST(4 + 72 * frame_idx AS BIGINT) AS frame_offset,
      |  CAST(64 AS BIGINT) AS frame_bytes
      |FROM (
      |  SELECT doc_id AS asset_id, n,
      |    unnest(generate_series(0, n - 1)) AS frame_idx
      |  FROM (SELECT doc_id, greatest((strlen(text) + 63) // 64, 1) AS n FROM documents)
      |)
      |ORDER BY asset_id, frame_idx""".stripMargin

  /** JPEG SOF0 frame-header parse — [[pngMeta]]'s lossy-codec twin:
    * image precision/height/width/component count read straight out of
    * the baseline start-of-frame segment with declarative binary ops
    * ([[uint]], codegen'd, no codec on this path). JPEG
    * does not pin segment order the way PNG pins IHDR-first, but the
    * JDK's JFIF writer emits a fixed grayscale prelude — SOI(2) +
    * APP0(18) + DQT(69) — putting the FFC0 marker at byte offset 90
    * (1-based); `valid_sof` CHECKS both the SOI magic and that marker,
    * so a stream with a different segment layout reads as one
    * valid_sof=false row rather than garbage fields (a general-corpus
    * deployment would widen this to a marker scan before the parse; the
    * decode path below is already layout-agnostic). SOF0 layout after
    * the marker: length(2) precision(1) height(2) width(2)
    * n_components(1), big-endian. Header fields are decode-INDEPENDENT,
    * so they stay bit-exact oracle-able even though JPEG pixels are
    * not. */
  def jpegMeta(s: SparkSession, d: String): DataFrame = {
    perDocument(s, d)((id, text) => (id, encodeJpeg(text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (hex(substring(col("media"), 1, 2)) === "FFD8" &&
          hex(substring(col("media"), 90, 2)) === "FFC0").as("valid_sof"),
        uint(lit(94), 1, BE).cast("int").as("precision"),
        uint(lit(95), 2, BE).cast("int").as("height"),
        uint(lit(97), 2, BE).cast("int").as("width"),
        uint(lit(99), 1, BE).cast("int").as("n_components"))
      .orderBy("asset_id")
  }

  /** EXIF parse — the metadata curation actually needs from camera
    * JPEGs (orientation decides whether every downstream pixel op must
    * rotate; capture time drives dedup/recency policies), over
    * [[encodeExifJpeg]] assets whose APP1 segment embeds a little-endian
    * TIFF blob (EXIF's container). The IFD walk is [[tiffMeta]]'s,
    * re-based to the APP1 payload (TIFF offsets are relative to the
    * TIFF header, NOT the file — the classic EXIF parser bug), and
    * exercises both storage classes: Orientation (SHORT, inline in the
    * value field) and DateTime (ASCII 20, stored at an offset past the
    * IFD, followed to read the string). Declarative [[uint]] reads,
    * codegen'd, no codec. `valid_exif` pins the full envelope:
    * SOI, APP1 marker, "Exif\0\0" signature, "II" byte order, magic 42. */
  def exifMeta(s: SparkSession, d: String): DataFrame = {
    // TIFF base: SOI(2) + APP1 marker(2) + length(2) + "Exif\0\0"(6)
    val base = 12
    perDocument(s, d)((id, text) => (id, encodeExifJpeg(id, text))).toDF("asset_id", "media")
      .withColumn("es", ifd0Entries(base))
      .select(col("asset_id"),
        (hex(substring(col("media"), 1, 2)) === "FFD8" &&
          hex(substring(col("media"), 3, 2)) === "FFE1" &&
          substring(col("media"), 7, 4).cast("string") === "Exif" &&
          substring(col("media"), base + 1, 2).cast("string") === "II" &&
          uint(lit(base + 3), 2, LE) === 42).as("valid_exif"),
        ifdTag(274).cast("int").as("orientation"),
        (ifdTag(274) =!= 1).as("needs_rotate"),
        col("media").substr((lit(base + 1) + ifdTag(306)).cast("int"), lit(19))
          .cast("string").as("taken_at"))
      .orderBy("asset_id")
  }

  val exifMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_exif,
      |  CAST(1 + doc_id % 8 AS INT) AS orientation,
      |  (doc_id % 8) <> 0 AS needs_rotate,
      |  printf('2024:%02d:%02d %02d:%02d:%02d', 1 + doc_id % 12, 1 + doc_id % 28,
      |    doc_id % 24, doc_id % 60, doc_id % 60) AS taken_at
      |FROM documents ORDER BY asset_id""".stripMargin

  /** SUBRIP (SRT) CAPTION PARSE — the text half of video training data
    * (caption/frame alignment starts from exactly this file format):
    * each document's whitespace tokens are paced into 5-word captions
    * at 3 s cadence (2 s visible) and serialized as real SRT blocks —
    * index, `HH:MM:SS,mmm --> HH:MM:SS,mmm`, caption line — then the
    * PARSER (the certified direction) splits blocks, decodes both
    * timestamps positionally, and folds duration totals, caption word
    * counts and a strict start-monotonicity flag over the block array.
    * Everything is codegen'd split/substring/higher-order-fold — the
    * declarative form of the imperative line-reader every subtitle
    * tool runs, map-only at scale. Oracle: the pacing is analytic in
    * the whitespace token count ([[graft.operators.TextAnalysis]]
    * tokenStats' split idiom), so every output column replays from
    * `ceil(n_tokens/5)`. */
  def srtParse(s: SparkSession, d: String): DataFrame = {
    def fmtMs(e: String) =
      s"""concat(lpad(CAST(($e) div 3600000 AS STRING), 2, '0'), ':',
         |  lpad(CAST((($e) div 60000) % 60 AS STRING), 2, '0'), ':',
         |  lpad(CAST((($e) div 1000) % 60 AS STRING), 2, '0'), ',',
         |  lpad(CAST(($e) % 1000 AS STRING), 3, '0'))""".stripMargin
    val gen =
      s"""array_join(transform(sequence(0, ((size(words) + 4) div 5) - 1), i ->
         |  concat(CAST(i + 1 AS STRING), '\\n',
         |    ${fmtMs("3000 * i")}, ' --> ', ${fmtMs("3000 * i + 2000")}, '\\n',
         |    array_join(slice(words, i * 5 + 1, 5), ' '))), '\\n\\n')""".stripMargin
    def ts(l2: String, off: Int) =
      s"""(CAST(substring($l2, ${off}, 2) AS BIGINT) * 3600000 +
         |  CAST(substring($l2, ${off + 3}, 2) AS BIGINT) * 60000 +
         |  CAST(substring($l2, ${off + 6}, 2) AS BIGINT) * 1000 +
         |  CAST(substring($l2, ${off + 9}, 3) AS BIGINT))""".stripMargin
    val l2 = "element_at(split(b, '\\n'), 2)"
    val parsed =
      s"""transform(split(srt, '\\n\\n'), b -> named_struct(
         |  'start_ms', ${ts(l2, 1)},
         |  'end_ms', ${ts(l2, 18)},
         |  'n_words', size(split(element_at(split(b, '\\n'), 3), ' '))))""".stripMargin
    docs(s, d)
      .select(col("doc_id"), Tokens.words(col("text")).as("words"))
      .select(col("doc_id"), expr(gen).as("srt"))
      .withColumn("caps", expr(parsed))
      .select(col("doc_id"),
        size(col("caps")).cast("long").as("n_captions"),
        expr("aggregate(caps, 0L, (a, c) -> a + (c.end_ms - c.start_ms))")
          .as("total_dur_ms"),
        expr("aggregate(caps, 0L, (a, c) -> a + c.n_words)").as("n_caption_words"),
        expr("""aggregate(caps, named_struct('p', -1L, 'ok', true),
          (a, c) -> named_struct('p', c.start_ms,
            'ok', a.ok AND c.start_ms > a.p AND c.end_ms > c.start_ms)).ok""")
          .as("monotone_ok"))
      .orderBy("doc_id")
  }

  val srtParseSql: String =
    s"""WITH w AS (
      |  SELECT doc_id,
      |    len(${OracleCtes.wordsSql("text")}) AS nw
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST((nw + 4) // 5 AS BIGINT) AS n_captions,
      |  CAST(2000 * ((nw + 4) // 5) AS BIGINT) AS total_dur_ms,
      |  CAST(nw AS BIGINT) AS n_caption_words,
      |  TRUE AS monotone_ok
      |FROM w ORDER BY doc_id""".stripMargin

  /** GIF header parse over real GIF blobs — the LITTLE-endian twin of
    * [[pngMeta]] (GIF's logical-screen width/height are LE u16 where
    * PNG's IHDR is BE u32; a parser that only ever met one byte order
    * has not been tested): signature check on "GIF89a"/"GIF87a", LE
    * dims at offsets 7/9, and the global-color-table flag from the
    * packed byte at 11 (the JDK writer always emits a GCT for a
    * palette image). Declarative [[uint]] reads, codegen'd map-side
    * like the other header parses. Oracle: the assets are
    * [[encodeGif]]'s own output — every field analytic in the doc
    * length. */
  def gifMeta(s: SparkSession, d: String): DataFrame = {
    perDocument(s, d)((id, text) => (id, encodeGif(text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (substring(col("media"), 1, 6).cast("string") === "GIF89a" ||
          substring(col("media"), 1, 6).cast("string") === "GIF87a").as("valid_sig"),
        uint(lit(7), 2, LE).cast("int").as("width"),
        uint(lit(9), 2, LE).cast("int").as("height"),
        (uint(lit(11), 1, LE) >= 128).as("has_gct"))
      .orderBy("asset_id")
  }

  /** 2-D RESIZE over REAL decoded pixels — the remaining member of the
    * decode / feature-extract / resize / frame-sample quartet: each
    * PNG asset is decoded (`ImageIO` on executors, in the
    * [[perDocument]] pass like [[featureExtract]]) and box-average
    * downsampled onto an 8×8 grid — source pixel (y, x) lands in cell
    * (y·8 div h, x div 8), cell value = integer-micros mean of its
    * pixels — the thumbnail/normalization step every vision pipeline
    * runs before feature extraction. All arithmetic is integer (sum·10⁶
    * div count), so the result is bit-portable; the per-asset output is
    * the non-empty-cell count and an order-free position-weighted
    * checksum over cell means — one value pinning all 64 cells. Short
    * images (h < 8) leave some grid rows empty: absent, never
    * NaN-filled. Scale shape: decode is per-row executor work, the
    * grid reduce is a (asset, cell) partial agg — nothing wider than
    * 64 cells per asset crosses the shuffle. */
  def resize(s: SparkSession, d: String): DataFrame = {
    val pixels = perDocument(s, d) { (id, text) =>
        val (w, h, px) = decodeGray(encodePng(text))
        (id, w, h, px)
      }
      .toDF("asset_id", "w", "h", "px")
    pixels
      .select(col("asset_id"), col("w"), col("h"),
        posexplode(col("px")).as(Seq("pos", "pv")))
      .select(col("asset_id"), col("h"),
        expr("((pos div w) * 8) div h").as("cell_r"),
        expr("(pos % w) div 8").as("cell_c"),
        col("pv").cast("long").as("pv"))
      .groupBy("asset_id", "h", "cell_r", "cell_c")
      .agg(sum("pv").as("sp"), count(lit(1)).as("np"))
      .select(col("asset_id"), col("h"),
        col("cell_r"), col("cell_c"),
        expr("(sp * 1000000) div np").as("mean_us"))
      .groupBy("asset_id")
      .agg(max(col("h")).cast("int").as("src_h"),
        count(lit(1)).as("n_cells"),
        sum((col("cell_r") * 8 + col("cell_c") + 1) * col("mean_us")).as("grid_checksum"))
      .select(col("asset_id"), lit(64).as("src_w"), col("src_h"),
        col("n_cells"), col("grid_checksum"))
      .orderBy("asset_id")
  }

  /** SQL twin: PNG losslessness makes pixels analytic — text bytes
    * row-major at width 64 plus zero padding — so the grid means
    * replay exactly ([[featureExtractSql]]'s discipline, in 2-D). */
  val resizeSql: String =
    """WITH dims AS (
      |  SELECT doc_id, strlen(text) AS n,
      |    greatest((strlen(text) + 63) // 64, 1) AS h
      |  FROM documents
      |), pix AS (
      |  SELECT doc_id, h, p.i AS pos,
      |    CASE WHEN p.i < n THEN ord(substr(text, p.i + 1, 1)) ELSE 0 END AS pv
      |  FROM (
      |    SELECT doc_id, n, h, text,
      |      unnest(list_transform(generate_series(0, 64 * h - 1),
      |        x -> struct_pack(i := x))) AS p
      |    FROM dims JOIN documents USING (doc_id)
      |  )
      |), cells AS (
      |  SELECT doc_id, h, ((pos // 64) * 8) // h AS cell_r, (pos % 64) // 8 AS cell_c,
      |    (sum(pv) * 1000000) // count(*) AS mean_us
      |  FROM pix GROUP BY doc_id, h, cell_r, cell_c
      |)
      |SELECT doc_id AS asset_id, 64 AS src_w, CAST(max(h) AS INT) AS src_h,
      |  count(*) AS n_cells,
      |  CAST(sum((cell_r * 8 + cell_c + 1) * mean_us) AS BIGINT) AS grid_checksum
      |FROM cells GROUP BY doc_id ORDER BY asset_id""".stripMargin

  /** TIFF IFD parse over [[encodeTiff]] blobs — the one metadata walk
    * that FOLLOWS OFFSETS instead of reading fixed positions (the EXIF
    * shape: a TIFF directory reached through a pointer): the IFD
    * offset is read from the header, the entry COUNT from that dynamic
    * position, and the entries enumerated with `transform(sequence(0,
    * n−1))` ([[ifd0Entries]]) — [[uint]] with COLUMN offsets keeps the
    * whole chain declarative and codegen'd, no UDF. Tag lookups
    * (width/height/bits/strip size) filter the parsed entry array.
    * Oracle: analytic in doc length, like the other synthesized
    * containers. */
  def tiffMeta(s: SparkSession, d: String): DataFrame = {
    perDocument(s, d)((id, text) => (id, encodeTiff(text))).toDF("asset_id", "media")
      .withColumn("es", ifd0Entries(0))
      .select(col("asset_id"),
        (substring(col("media"), 1, 2).cast("string") === "II" &&
          uint(lit(3), 2, LE) === 42).as("valid_sig"),
        ifdTag(256).cast("int").as("width"),
        ifdTag(257).cast("int").as("height"),
        ifdTag(258).cast("int").as("bits_per_sample"),
        ifdTag(279).cast("int").as("strip_bytes"))
      .orderBy("asset_id")
  }

  /** IFD0 of the little-endian TIFF header at 0-based byte `base` of
    * `media` (0 for a TIFF file, 12 inside an EXIF APP1 segment): one
    * (tag, v) struct per entry. TIFF offsets count from the header, so
    * IFD0 sits at 1-based byte `base + 1 + offset`; the entry COUNT is
    * read there and the entries enumerated with `transform(sequence(0,
    * n−1))` at offsets computed from the parsed pointer. SHORT values
    * read through the same 4-byte little-endian `v` (zero padding
    * makes them equal). */
  private def ifd0Entries(base: Int): Column = {
    val ifd = lit(base + 1) + uint(lit(base + 5), 4, LE)
    transform(sequence(lit(0L), uint(ifd, 2, LE) - 1L), i => struct(
      uint(ifd + i * 12 + 2, 2, LE).as("tag"),
      uint(ifd + i * 12 + 10, 4, LE).as("v")))
  }

  /** The value of the first `es` entry ([[ifd0Entries]]) tagged `tag`. */
  private def ifdTag(tag: Int): Column =
    filter(col("es"), e => e("tag") === tag).getItem(0)("v")

  val tiffMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_sig,
      |  64 AS width,
      |  CAST(greatest((strlen(text) + 63) // 64, 1) AS INT) AS height,
      |  8 AS bits_per_sample,
      |  CAST(64 * greatest((strlen(text) + 63) // 64, 1) AS INT) AS strip_bytes
      |FROM documents ORDER BY asset_id""".stripMargin

  /** ISO BMFF (MP4) box walk over [[encodeMp4]] blobs — the container
    * class TIFF/AVI don't cover: a SEQUENTIAL box list where each
    * offset depends on the previous box's size (offset_{i+1} =
    * offset_i + size_i), plus NESTED children inside `moov`. Both
    * walks are `aggregate(sequence(...))` FOLDS over (offset,
    * accumulated boxes) — the declarative form of the imperative
    * while-loop every MP4 demuxer runs, fully codegen'd, no UDF.
    * Extracted: the top-level box map (types in file order), mdat
    * payload size, mvhd timescale/duration, and the trak count from
    * the nested walk. Oracle: analytic in doc length, like the other
    * synthesized containers. */
  def mp4Boxes(s: SparkSession, d: String): DataFrame = {
    // a box header at 0-based `off`: big-endian u32 size, then the fourcc
    def boxSize(off: Column) = uint(off + 1, 4, BE)
    def boxType(off: Column) = col("media").substr((off + 5).cast("int"), lit(4)).cast("string")
    // top-level walk: fold over a generous fixed iteration budget; each
    // step consumes one box or passes through once the offset hits EOF
    val topWalk = aggregate(sequence(lit(1), lit(8)),
      struct(lit(0L).as("off"),
        array().cast("array<struct<t:string,sz:bigint,off:bigint>>").as("bs")),
      (acc, _) => when(acc("off") >= length(col("media")), acc).otherwise(struct(
        (acc("off") + boxSize(acc("off"))).as("off"),
        concat(acc("bs"), array(struct(boxType(acc("off")).as("t"),
          boxSize(acc("off")).as("sz"), acc("off").as("off")))).as("bs"))),
      acc => acc("bs"))
    // nested walk: count trak children between moov's payload start and end
    val moov = col("moov")
    val trakWalk = aggregate(sequence(lit(1), lit(8)),
      struct((moov("off") + 8).as("off"), lit(0).as("n")),
      (acc, _) => when(acc("off") >= moov("off") + moov("sz"), acc).otherwise(struct(
        (acc("off") + boxSize(acc("off"))).as("off"),
        (acc("n") + when(boxType(acc("off")) === "trak", 1).otherwise(0)).as("n"))),
      acc => acc("n"))
    perDocument(s, d)((id, text) => (id, encodeMp4(text))).toDF("asset_id", "media")
      .withColumn("bs", topWalk)
      .withColumn("moov", filter(col("bs"), b => b("t") === "moov").getItem(0))
      .select(col("asset_id"),
        array_join(transform(col("bs"), b => b("t")), ",").as("box_types"),
        (filter(col("bs"), b => b("t") === "mdat").getItem(0)("sz") - 8).cast("int")
          .as("mdat_bytes"),
        // mvhd is moov's first child: header at moov.off+8, payload +16
        boxSize(moov("off") + 28).cast("int").as("timescale"),
        boxSize(moov("off") + 32).cast("int").as("duration_ms"),
        trakWalk.as("n_traks"))
      .orderBy("asset_id")
  }

  /** MPEG AUDIO FRAME WALK — the mainstream audio container the m_*
    * family was missing (every podcast/music crawl is full of MP3):
    * frame i+1 starts where frame i's HEADER says it ends
    * (144·bitrate/samplerate + padding — the bitrate is in the frame,
    * so VBR streams can only be walked, never strided), and the walk
    * re-verifies the 11-bit sync plus version/layer bits at every
    * boundary — a one-byte framing error desynchronizes every later
    * frame and flips `all_sync`/`size_ok`. Declarative aggregate-fold
    * walk ([[uint]] integer arithmetic, no UDF) over
    * the [[encodeMp3]] stream; certificates: frame count, exact
    * 24 ms/frame duration (1152 samples at 48 kHz), summed per-frame
    * kbps (the VBR profile), padding census, every-boundary sync, and
    * final-offset-equals-EOF. */
  def mp3Frames(s: SparkSession, d: String): DataFrame = {
    val len = length(col("media")).cast("long")
    val walk = aggregate(sequence(lit(1), lit(8)),
      struct(lit(0L).as("off"), lit(0L).as("n"), lit(0L).as("sk"), lit(0L).as("np"),
        lit(true).as("ok")),
      { (acc, _) =>
        // the 4-byte frame header at 0-based acc.off
        val b2 = uint(acc("off") + 3, 1, BE)
        val idx = shiftright(b2, 4)
        val pad = shiftright(b2, 1) % 2
        val kbps = when(idx === 5, 64).when(idx === 7, 96).when(idx === 9, 128)
          .when(idx === 10, 160).otherwise(0)
        val sync = uint(acc("off") + 1, 1, BE) === 255 && uint(acc("off") + 2, 1, BE) === 251 &&
          shiftright(b2, 2) % 4 === 1 && kbps > 0
        when(acc("off") >= len, acc)
          .when(sync, struct((acc("off") + kbps * 3 + pad).as("off"), (acc("n") + 1).as("n"),
            (acc("sk") + kbps).as("sk"), (acc("np") + pad).as("np"), acc("ok").as("ok")))
          .otherwise(struct(len.as("off"), acc("n").as("n"), acc("sk").as("sk"),
            acc("np").as("np"), lit(false).as("ok")))
      },
      acc => struct(acc("n").as("n"), (acc("n") * 24).as("dur"), acc("sk").as("sk"),
        acc("np").as("np"), acc("ok").as("ok"), (acc("off") === len).as("szok")))
    perDocument(s, d)((id, text) => (id, encodeMp3(text))).toDF("asset_id", "media")
      .withColumn("w", walk)
      .select(col("asset_id"),
        col("w.n").cast("long").as("n_frames"),
        col("w.dur").cast("long").as("duration_ms"),
        col("w.sk").cast("long").as("sum_kbps"),
        col("w.np").cast("long").as("n_padded"),
        col("w.ok").as("all_sync"), col("w.szok").as("size_ok"))
      .orderBy("asset_id")
  }

  /** Oracle: the closed-form twin of encoder+walk (both are pure
    * functions of the text's codepoints); empty docs keep their
    * zero-frame row via the LEFT JOIN (the [[pcmUlawSql]] rule). */
  val mp3FramesSql: String =
    """WITH fr0 AS (
      |  SELECT doc_id, length(text) AS ln,
      |    unnest(generate_series(1, CASE WHEN length(text) = 0 THEN 0
      |                               ELSE 4 + length(text) % 5 END)) AS i,
      |    text
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, ord(substr(text, CAST(1 + ((i - 1) % ln) AS INT), 1)) AS cp
      |  FROM fr0
      |), agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
      |    CAST(sum(64 + 32 * (cp % 4)) AS BIGINT) AS sum_kbps,
      |    CAST(sum((cp // 4) % 2) AS BIGINT) AS n_padded
      |  FROM fr GROUP BY doc_id
      |)
      |SELECT d.doc_id AS asset_id,
      |  coalesce(a.n_frames, 0) AS n_frames,
      |  24 * coalesce(a.n_frames, 0) AS duration_ms,
      |  coalesce(a.sum_kbps, 0) AS sum_kbps,
      |  coalesce(a.n_padded, 0) AS n_padded,
      |  TRUE AS all_sync, TRUE AS size_ok
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY asset_id""".stripMargin

  val mp4BoxesSql: String =
    """SELECT doc_id AS asset_id, 'ftyp,moov,mdat' AS box_types,
      |  CAST(strlen(text) AS INT) AS mdat_bytes,
      |  1000 AS timescale,
      |  CAST(strlen(text) * 40 AS INT) AS duration_ms,
      |  CAST(1 + strlen(text) % 2 AS INT) AS n_traks
      |FROM documents ORDER BY asset_id""".stripMargin

  val gifMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_sig,
      |  64 AS width,
      |  CAST(greatest((strlen(text) + 63) // 64, 1) AS INT) AS height,
      |  TRUE AS has_gct
      |FROM documents ORDER BY asset_id""".stripMargin

  /** Same raster geometry as [[pngMetaSql]]; strlen (BYTES) because the
    * encoder rasterizes UTF-8 bytes. */
  val jpegMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_sof,
      |  8 AS precision,
      |  CAST(greatest((strlen(text) + 63) // 64, 1) AS INT) AS height,
      |  64 AS width, 1 AS n_components
      |FROM documents ORDER BY asset_id""".stripMargin

  /** Real-decode audio stats: encode each document as genuine 16-bit PCM
    * WAV, decode it back with `javax.sound.sampled.AudioSystem` on the
    * executor (the [[perDocument]] pass, as in [[featureExtract]] —
    * the codec is the only imperative step), and report exact sample
    * statistics: count, duration, peak amplitude and total energy
    * (Σ sample², exact in a long — an 8 kHz corpus of hour-long clips
    * stays under 2⁶³). The silence-trim fraction (leading/trailing
    * |sample| ≤ 512 run) is the standard pre-tokenization audio filter.
    * PCM losslessness keeps the oracle bit-exact, like the PNG path. */
  /** AUDIO DECIMATION (resample by 2) — the preprocessing step every
    * speech pipeline runs before feature extraction (48 kHz capture →
    * 16 kHz model rate; here ÷2 with a pair-average anti-alias stub):
    * real JDK WAV decode on executors ([[decodePcm]] in the
    * [[perDocument]] pass, as in [[wavEnergy]]), then the
    * DECIMATION itself is declarative — a `transform(sequence(...))`
    * pair fold over the sample array, floor-averaged pairs with an odd
    * tail passthrough, plus exact integer energy sums on both sides of
    * the rate change — all codegen'd, nothing but (id, samples)
    * crossing from the codec region. `energy_ratio` (micros-rounded,
    * one IEEE division) is the level-preservation check an audio QA
    * gate alerts on. */
  def audioResample(s: SparkSession, d: String): DataFrame = {
    val resampled =
      """transform(sequence(0, CAST(((size(px) + 1) div 2) - 1 AS INT)), j ->
        |  CASE WHEN 2 * j + 2 <= size(px)
        |    THEN CAST(floor((CAST(element_at(px, 2 * j + 1) AS BIGINT)
        |      + element_at(px, 2 * j + 2)) / 2) AS BIGINT)
        |    ELSE CAST(element_at(px, 2 * j + 1) AS BIGINT) END)""".stripMargin
    perDocument(s, d)((id, text) => (id, decodePcm(encodeWav(text))))
      .toDF("asset_id", "px")
      .withColumn("out", expr(resampled))
      .select(col("asset_id"),
        size(col("px")).cast("long").as("n_in"),
        size(col("out")).cast("long").as("n_out"),
        expr("aggregate(px, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT) * x)")
          .as("energy_in"),
        expr("aggregate(out, CAST(0 AS BIGINT), (a, x) -> a + x * x)")
          .as("energy_out"))
      .withColumn("energy_ratio",
        when(col("energy_in") === 0, lit(null).cast("double"))
          .otherwise(graft.operators.ExactRound.r(
            col("energy_out").cast("double") / col("energy_in"), 6)))
      .orderBy("asset_id")
  }

  /** Replay from the synthesis: sample i = (ord(char i) − 64)·256, the
    * [[wavEnergySql]] convention; pairs floor-average, odd tail passes. */
  val audioResampleSql: String = {
    val ratio = graft.operators.ExactRound.rSql(
      "CAST(energy_out AS DOUBLE) / energy_in", 6)
    s"""WITH chars AS (
       |  SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text FROM documents
       |), sm AS (
       |  SELECT doc_id, i, CAST((ord(substr(text, i, 1)) - 64) * 256 AS BIGINT) AS v
       |  FROM chars
       |), pr AS (
       |  SELECT doc_id, (i - 1) // 2 AS j, sum(v) AS sv, count(*) AS c
       |  FROM sm GROUP BY doc_id, (i - 1) // 2
       |), o AS (
       |  SELECT doc_id, CASE WHEN c = 2 THEN sv // 2 ELSE sv END AS ov FROM pr
       |), agg AS (
       |  SELECT s.doc_id,
       |    (SELECT count(*) FROM sm WHERE sm.doc_id = s.doc_id) AS n_in,
       |    count(*) AS n_out, 0 AS dummy
       |  FROM o s GROUP BY s.doc_id
       |)
       |SELECT a.doc_id AS asset_id, CAST(a.n_in AS BIGINT) AS n_in,
       |  CAST(a.n_out AS BIGINT) AS n_out,
       |  CAST(ei.energy_in AS BIGINT) AS energy_in,
       |  CAST(eo.energy_out AS BIGINT) AS energy_out,
       |  CASE WHEN ei.energy_in = 0 THEN NULL ELSE $ratio END AS energy_ratio
       |FROM agg a
       |JOIN (SELECT doc_id, sum(v * v) AS energy_in FROM sm GROUP BY doc_id) ei
       |  ON a.doc_id = ei.doc_id
       |JOIN (SELECT doc_id, sum(ov * ov) AS energy_out FROM o GROUP BY doc_id) eo
       |  ON a.doc_id = eo.doc_id
       |ORDER BY asset_id""".stripMargin
  }

  def wavEnergy(s: SparkSession, d: String): DataFrame = {
    perDocument(s, d) { (id, text) =>
        val px = decodePcm(encodeWav(text))
        var sumSq = 0L; var peak = 0L
        var lead = 0; var trail = 0
        var i = 0
        while (i < px.length) {
          val v = px(i).toLong
          sumSq += v * v
          val a = math.abs(v)
          if (a > peak) peak = a
          i += 1
        }
        while (lead < px.length && math.abs(px(lead)) <= 512) lead += 1
        while (trail < px.length - lead && math.abs(px(px.length - 1 - trail)) <= 512) trail += 1
        (id, px.length.toLong, sumSq, peak, (lead + trail).toLong)
      }
      .toDF("asset_id", "n_samples", "energy", "peak", "n_silent_edge")
      .orderBy("asset_id")
  }

  /** PCM replay: sample i = (ord(char i) − 64)·256; silence |s| ≤ 512 ⇔
    * byte value in [62, 66] ('>' .. 'B' — space (32) is NOT silent,
    * keeping the trim nontrivial on this corpus). */
  val wavEnergySql: String =
    """WITH chars AS (
      |  SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text FROM documents
      |), s AS (
      |  SELECT doc_id, i, CAST((ord(substr(text, i, 1)) - 64) * 256 AS BIGINT) AS v,
      |    length(text) AS n
      |  FROM chars
      |), edge AS (
      |  SELECT doc_id,
      |    coalesce(min(CASE WHEN abs(v) > 512 THEN i END) - 1, max(n)) AS lead,
      |    coalesce(max(n) - max(CASE WHEN abs(v) > 512 THEN i END), 0) AS trail,
      |    max(CASE WHEN abs(v) > 512 THEN 1 ELSE 0 END) AS has_loud
      |  FROM s GROUP BY doc_id
      |)
      |SELECT s.doc_id AS asset_id,
      |  CAST(max(s.n) AS BIGINT) AS n_samples,
      |  CAST(sum(s.v * s.v) AS BIGINT) AS energy,
      |  CAST(max(abs(s.v)) AS BIGINT) AS peak,
      |  CAST(CASE WHEN max(e.has_loud) = 1 THEN max(e.lead) + max(e.trail)
      |            ELSE max(s.n) END AS BIGINT) AS n_silent_edge
      |FROM s JOIN edge e ON s.doc_id = e.doc_id
      |GROUP BY s.doc_id
      |ORDER BY asset_id""".stripMargin

  /** Binary-asset exact dedup — the image/audio dedup pass every
    * multimodal pipeline runs before decode: canonical assignment by
    * content checksum. Identical scale shape to text `d_exact` (shuffle
    * on a 16-byte key, no pair join), but over the OPAQUE binary column:
    * no decode needed to kill byte-identical copies. */
  def assetDedup(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("checksum")
    assets(s, d)
      .select(col("asset_id"), md5(col("media")).as("checksum"))
      .select(col("asset_id"), col("checksum"),
        min("asset_id").over(w).as("canonical_id"),
        count(lit(1)).over(w).as("group_size"))
      .orderBy("asset_id")
  }

  val assetDedupSql: String =
    """SELECT asset_id, checksum,
      | min(asset_id) OVER (PARTITION BY checksum) AS canonical_id,
      | count(*) OVER (PARTITION BY checksum) AS group_size
      |FROM (SELECT doc_id AS asset_id, md5(text) AS checksum FROM documents)
      |ORDER BY asset_id""".stripMargin

  /** Content-defined chunking for dedup storage — how object stores
    * dedupe large media blobs ACROSS assets that are similar but not
    * byte-identical (re-encoded uploads, appended metadata): split each
    * blob at content-determined boundaries ([[graft.functions.CdcImpl]]:
    * rolling-hash mask, expected 64-byte chunks), address chunks by
    * content hash, and count bytes shared with any other chunk
    * occurrence. Unlike fixed-size blocks, an insertion shifts at most
    * one boundary, so shared runs keep their chunk identity. The
    * boundary scan is one codegen'd O(n) expression pass; chunk
    * extraction (substr + md5) stays declarative; then one partial-agg
    * shuffle on the 16-byte chunk hash and one re-join — the same scale
    * shape as `d_exact`, applied at sub-asset granularity. Emits per
    * asset: chunk count, bytes, bytes in shared chunks, dedup ratio. */
  def cdcChunks(s: SparkSession, d: String): DataFrame = {
    val chunks = docs(s, d)
      .select(col("doc_id").as("asset_id"), col("text"),
        graft.functions.CdcFns.cdc_boundaries(col("text")).as("bounds"))
      .select(col("asset_id"), col("text"),
        explode(zip_with(
          concat(array(lit(0)), col("bounds")),
          concat(col("bounds"), array(length(col("text")))),
          (a, b) => struct(a.as("off"), (b - a).as("len")))).as("c"))
      .select(col("asset_id"), col("c.len").cast("long").as("len"),
        md5(to_binary(expr("substr(text, c.off + 1, c.len)"), lit("utf-8"))).as("chunk_hash"))
    val refs = chunks.groupBy("chunk_hash").agg(count(lit(1)).as("refs"))
    chunks.join(refs, "chunk_hash")
      .groupBy("asset_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("len").as("n_bytes"),
        sum(when(col("refs") >= 2, col("len")).otherwise(0L)).as("dup_bytes"))
      .select(col("asset_id"), col("n_chunks"), col("n_bytes"), col("dup_bytes"),
        ExactRound.r(col("dup_bytes").cast("double") / col("n_bytes"), 6).as("dup_ratio"))
      .orderBy("asset_id")
  }

  /** SQL twin of [[cdcChunks]] as a reusable CTE list ending in
    * `ch(doc_id, chunk_hash, len)` — one row per content-defined chunk
    * of each document's text: the winnow oracle's K=16 rolling hash
    * ([[OracleCtes.rollCte]]), boundaries where hash % 64 = 0, chunk
    * reassembly via lockstep unnest of the prepend(0)/append(len)
    * offset lists. Splice as `WITH RECURSIVE $cdcChunkCte, ...`;
    * consumed by [[cdcChunksSql]] and the text family's CDC-MinHash
    * dedup twin. */
  private[graft] val cdcChunkCte: String =
    s"""docs AS (
       |  SELECT doc_id, text, greatest(length(text) - ${graft.functions.CdcImpl.K - 1}, 0) AS m FROM documents
       |), ${OracleCtes.rollCte("m >= 2")}, bounds AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos FROM roll WHERE i >= 2 AND h % 64 = 0
       |), blist AS (
       |  SELECT doc_id, list(pos ORDER BY pos) AS bs FROM bounds GROUP BY doc_id
       |), chunkdef AS (
       |  SELECT d.doc_id, d.text,
       |    list_prepend(CAST(0 AS BIGINT), coalesce(b.bs, CAST([] AS BIGINT[]))) AS offs,
       |    list_append(coalesce(b.bs, CAST([] AS BIGINT[])), CAST(length(d.text) AS BIGINT)) AS ends
       |  FROM docs d LEFT JOIN blist b USING (doc_id)
       |), ch AS (
       |  SELECT doc_id, md5(substr(text, off + 1, e - off)) AS chunk_hash, e - off AS len
       |  FROM (SELECT doc_id, text, unnest(offs) AS off, unnest(ends) AS e FROM chunkdef)
       |)""".stripMargin

  val cdcChunksSql: String = {
    s"""WITH RECURSIVE $cdcChunkCte, refs AS (
       |  SELECT chunk_hash, count(*) AS refs FROM ch GROUP BY 1
       |)
       |SELECT doc_id AS asset_id, count(*) AS n_chunks,
       |  CAST(sum(len) AS BIGINT) AS n_bytes,
       |  CAST(sum(CASE WHEN refs >= 2 THEN len ELSE 0 END) AS BIGINT) AS dup_bytes,
       |  ${graft.operators.ExactRound.rSql(
            "CAST(sum(CASE WHEN refs >= 2 THEN len ELSE 0 END) AS DOUBLE) / sum(len)", 6)} AS dup_ratio
       |FROM ch JOIN refs USING (chunk_hash)
       |GROUP BY doc_id ORDER BY asset_id""".stripMargin
  }

  /** Container-format sniffing by magic bytes — the first pass over any
    * crawled media corpus (file extensions lie; the header doesn't):
    * compare each blob's leading bytes against a broadcast magic table
    * (PNG/JPEG/RIFF here) and aggregate per detected format. Pure
    * map-side scan + broadcast join at any scale. Headers are
    * synthesized per source (container constraint — the corpus is text);
    * one source group gets NO header, exercising the `unknown`
    * fallback. The hex-prefix compare (`substr(hex(media), 1, 8)`) is
    * byte-exact in both engines. */
  def sniff(s: SparkSession, d: String): DataFrame = {
    val grp = regexp_extract(col("source"), "src([0-9]+)", 1).cast("int") % 4
    val hdr = when(grp === 0, lit("89504E47")).when(grp === 1, lit("FFD8FFE0"))
      .when(grp === 2, lit("52494646")).otherwise(lit(""))
    val media = concat(unhex(hdr), to_binary(col("text"), lit("utf-8")))
    val magic = Seq(("89504E47", "png"), ("FFD8FFE0", "jpeg"), ("52494646", "riff"))
    val dim = s.createDataFrame(magic).toDF("magic_hex", "format")
    Tables.documents(s, d)
      .select(col("doc_id").as("asset_id"), col("source"), media.as("media"))
      .withColumn("prefix", substring(hex(col("media")), 1, 8))
      .join(broadcast(dim), col("prefix") === col("magic_hex"), "left")
      .select(coalesce(col("format"), lit("unknown")).as("format"),
        col("source"), length(col("media")).as("nbytes"))
      .groupBy("format")
      .agg(count(lit(1)).as("n_assets"), sum("nbytes").as("total_bytes"),
        countDistinct("source").as("n_sources"))
      .orderBy("format")
  }

  val sniffSql: String =
    """WITH a AS (
      |  SELECT doc_id, source,
      |    CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT) % 4 AS g,
      |    encode(text) AS body
      |  FROM documents
      |), m AS (
      |  SELECT source,
      |    (CASE g WHEN 0 THEN unhex('89504E47') WHEN 1 THEN unhex('FFD8FFE0')
      |            WHEN 2 THEN unhex('52494646') ELSE unhex('') END) || body AS media
      |  FROM a
      |), sn AS (
      |  SELECT source, substr(hex(media), 1, 8) AS prefix, octet_length(media) AS nbytes FROM m
      |), f(magic_hex, fmt) AS (
      |  VALUES ('89504E47', 'png'), ('FFD8FFE0', 'jpeg'), ('52494646', 'riff')
      |)
      |SELECT coalesce(fmt, 'unknown') AS format, count(*) AS n_assets,
      |  CAST(sum(nbytes) AS BIGINT) AS total_bytes, count(DISTINCT source) AS n_sources
      |FROM sn LEFT JOIN f ON prefix = magic_hex
      |GROUP BY 1 ORDER BY format""".stripMargin

  /** Perceptual-hash near-dup detection over the DECODED image — the
    * image dedup pass that catches re-encoded/resized copies exact
    * checksums ([[assetDedup]]) miss. Average-hash construction on real
    * pixels (`ImageIO.read` of the PNG assets, same decode as
    * [[featureExtract]]): 64 equal segments of the row-major pixel
    * stream, bit k = segment-k mean > global mean — evaluated as the
    * integer cross-multiply `seg_sum·n > total·seg_len`, so every bit is
    * bit-portable with no division. The 64-bit signature lives as four
    * 16-bit chunks, and candidate pairs come from chunk-equality
    * blocking (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 chunks equal — the
    * [[graft.operators.Dedup]] simhash discipline): an equi-join on
    * (slot, chunk), never all-pairs, so the plan survives 10⁹ assets.
    * Segment sums are one partial-agg shuffle on (asset, segment). */
  def phash(s: SparkSession, d: String): DataFrame = {
    val session = s
    import session.implicits._
    val base = Tables.documents(s, d).filter(length(col("text")) > 0)
    // Synthesized "re-encoded copies" (like m_sniff's headers): every
    // 7th asset also appears as a twin whose byte values shift slightly
    // but uniformly — the requantization analog. A length-preserving
    // global value shift moves segment and corpus means together, so
    // twin hashes land within hamming ≤ 3 (sub-100% by design — the
    // misses are honest perceptual-hash recall, not a bug).
    val docs = base.select(col("doc_id").as("asset_id"), col("text"))
      .union(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("asset_id"),
          translate(col("text"), "e", "a").as("text")))
    // REAL codec round trip: encode to PNG, decode with ImageIO; the
    // hash consumes what the decoder hands back, never the source text.
    // Scanline encoding (width = n): zero-padding a fixed-width raster
    // would dominate short documents' hashes and collide unrelated
    // assets (measured: 69 → 5531 pairs at sf0.01), the phash analog of
    // letterboxing — a production image phash resizes to a fixed tiny
    // raster first, which is the same "no dead pixels" discipline.
    // Per-ASSET hash computation in the decode pass (r11 100× probe
    // finding): the old shape exploded every pixel into an
    // (asset, pos) row stream and re-aggregated — ~9·10⁸ skinny rows
    // through one shuffle at 100× (measured: 4.1 GB shuffle write,
    // 13.5 GB sort spill at the 12 GB probe heap) for a value that is
    // a pure function of each asset's OWN pixels. The hash folds into
    // the SAME per-partition loop that already runs the ImageIO codec
    // (the multimodal family's per-partition imperative seam): one
    // primitive pass accumulates the 64 segment sums + total, the 64
    // mean-bits pack into the four 16-bit chunks, and only
    // (asset_id, c0..c3) ever leaves the partition — zero shuffle,
    // zero spill, bit-identical (same `pos*64 div n` bucketing, same
    // long arithmetic; an empty segment yields bit = (0 > 0) = false
    // exactly like the exploded form's absent group). A first r11 cut
    // as slice-aggregate Column HOFs was bit-identical but 3.6× slower
    // at 1× (interpreted per-element lambdas + slice copies) — the
    // codec loop is the right home for per-pixel work.
    val sig = docs.as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val (w, h, px) = decodeGray(encodePng(text, width = text.length))
        val n = w * h
        val seg = new Array[Long](64)
        var total = 0L
        var p = 0
        while (p < n) {
          val v = px(p).toLong
          seg(((p.toLong * 64) / n).toInt) += v
          total += v
          p += 1
        }
        val c = new Array[Long](4)
        var b = 0
        while (b < 64) {
          // segment b covers positions [ceil(b*n/64), ceil((b+1)*n/64))
          val len = ((b + 1).toLong * n + 63) / 64 - (b.toLong * n + 63) / 64
          if (seg(b) * n > total * len) c(b / 16) += 1L << (15 - b % 16)
          b += 1
        }
        (id, c(0), c(1), c(2), c(3))
      })
      .toDF("asset_id", "c0", "c1", "c2", "c3")
      .localCheckpoint() // keep: reuse
    // canonicalize-before-pair (the Dedup.bandCandidates hot-key guard):
    // assets with an identical 64-bit hash are interchangeable in every
    // chunk bucket — block one representative per signature, expand
    // representative pairs to member pairs after, append intra-group
    // pairs (hamming 0) directly; identical result set, a k-copy hot
    // asset contributes 1 join row instead of k² per bucket
    val wSig = org.apache.spark.sql.expressions.Window
      .partitionBy("c0", "c1", "c2", "c3")
    val groups = sig.withColumn("rep", min("asset_id").over(wSig))
    val reps = groups.filter(col("asset_id") === col("rep"))
    // VERIFY IN-STREAM (r11 100× probe finding #2): a 16-bit chunk has
    // only 65 536 values, so hot chunk values make each per-chunk
    // bucket join quadratic in its bucket — at 100× the candidate
    // stream hit ~10⁹ rows and the distinct() SORTED it (measured:
    // 13.5 GB spill, the same number first mis-attributed to the pixel
    // explode — the explode fix alone left the spill intact). The
    // EmbedBands verify-join discipline applies verbatim: carry both
    // sides' four chunks through the join and filter hamming ≤ 3
    // INSIDE the join stage, so candidates stream through whole-stage
    // codegen and only true near-dup survivors ever materialize into
    // the distinct. Identical output (members share their rep's exact
    // signature, so rep-level hamming IS member-level hamming).
    val repHam = (0 to 3).map(j =>
      expr(s"bit_count(la$j ^ rb$j)")).reduce(_ + _)
    val repPairs = (0 to 3).map { j =>
        val l = reps.select(col("asset_id").as("ra"),
          col("c0").as("la0"), col("c1").as("la1"),
          col("c2").as("la2"), col("c3").as("la3"), col(s"c$j").as("bk"))
        val r = reps.select(col("asset_id").as("rb"),
          col("c0").as("rb0"), col("c1").as("rb1"),
          col("c2").as("rb2"), col("c3").as("rb3"), col(s"c$j").as("bk"))
        l.join(r, Seq("bk")).filter(col("ra") < col("rb"))
          .filter(repHam <= 3)
          .select("ra", "rb")
      }.reduce(_ union _).distinct()
    val members = groups.select(col("rep"), col("asset_id"))
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("asset_id").as("ma")), "ra")
      .join(members.select(col("rep").as("rb"), col("asset_id").as("mb")), "rb")
      .select(least(col("ma"), col("mb")).as("a"), greatest(col("ma"), col("mb")).as("b"))
    val intra = members.select(col("rep"), col("asset_id").as("a"))
      .join(members.select(col("rep"), col("asset_id").as("b")), "rep")
      .filter(col("a") < col("b"))
      .select("a", "b")
    val cand = cross.union(intra)
    val ham = (0 to 3).map(j =>
      expr(s"bit_count(la.c$j ^ rb.c$j)")).reduce(_ + _)
    cand.join(sig.as("la"), col("a") === col("la.asset_id"))
      .join(sig.as("rb"), col("b") === col("rb.asset_id"))
      .select(col("a").as("asset_a"), col("b").as("asset_b"),
        ham.cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("asset_a", "asset_b")
  }

  /** SQL twin of [[phash]] — brute-force over all pairs (blocking is a
    * performance device, provably lossless for hamming ≤ 3). The pixel
    * stream is replayed analytically: the scanline PNG is lossless and
    * padding-free, so pixel i is exactly byte i of the text. */
  val phashSql: String =
    """WITH assets AS (
      |  SELECT doc_id AS asset_id, text FROM documents WHERE length(text) > 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, replace(text, 'e', 'a') FROM documents
      |  WHERE length(text) > 0 AND doc_id % 7 = 0
      |), chars AS (
      |  SELECT asset_id, length(text) AS n,
      |    unnest(generate_series(1, length(text))) AS i, text
      |  FROM assets
      |), cp AS (
      |  SELECT asset_id, n, ((i - 1) * 64) // n AS bucket,
      |    CAST(ord(substr(text, i, 1)) AS BIGINT) AS cp
      |  FROM chars
      |), seg AS (
      |  SELECT asset_id, n, bucket, sum(cp) AS seg_sum, count(*) AS seg_len
      |  FROM cp GROUP BY 1, 2, 3
      |), tot AS (
      |  SELECT asset_id, sum(cp) AS total FROM cp GROUP BY 1
      |), bits AS (
      |  SELECT s.asset_id, s.bucket,
      |    (s.seg_sum * s.n > t.total * s.seg_len) AS bit
      |  FROM seg s JOIN tot t USING (asset_id)
      |), sig AS (
      |  SELECT asset_id,
      |    CAST(sum(CASE WHEN bucket // 16 = 0 AND bit THEN (1 << (15 - bucket % 16)) ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN bucket // 16 = 1 AND bit THEN (1 << (15 - bucket % 16)) ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN bucket // 16 = 2 AND bit THEN (1 << (15 - bucket % 16)) ELSE 0 END) AS BIGINT) AS c2,
      |    CAST(sum(CASE WHEN bucket // 16 = 3 AND bit THEN (1 << (15 - bucket % 16)) ELSE 0 END) AS BIGINT) AS c3
      |  FROM bits GROUP BY asset_id
      |)
      |SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
      |  CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
      |     + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.asset_id < b.asset_id
      |WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
      |    + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3
      |ORDER BY asset_a, asset_b""".stripMargin

  /** RIFF/WAVE container header parse — the audio twin of [[pngMeta]]:
    * magic validation plus the fmt-chunk fields (PCM tag, channels,
    * sample rate, bit depth) and the data-chunk byte count, all
    * extracted DECLARATIVELY from the binary column ([[uint]] with
    * little-endian RIFF integers, codegen'd — no codec on this path);
    * n_samples = data_bytes / block_align.
    * The codec appears only in the [[encodeWav]] step; a corpus
    * whose WAVs already sit in the binary column runs this as ONE
    * scan-only metadata pass — the cheap audit before any decode-heavy
    * job (compare [[wavEnergy]], which decodes every sample). */
  def wavMeta(s: SparkSession, d: String): DataFrame = {
    perDocument(s, d)((id, text) => (id, encodeWav(text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (hex(substring(col("media"), 1, 4)) === "52494646" &&
          hex(substring(col("media"), 9, 4)) === "57415645" &&
          hex(substring(col("media"), 37, 4)) === "64617461").as("valid_riff"),
        uint(lit(5), 4, LE).as("riff_size"),
        uint(lit(21), 2, LE).as("audio_format"), uint(lit(23), 2, LE).as("channels"),
        uint(lit(25), 4, LE).as("sample_rate"), uint(lit(35), 2, LE).as("bits_per_sample"),
        uint(lit(41), 4, LE).as("data_bytes"),
        (uint(lit(41), 4, LE) / uint(lit(33), 2, LE)).cast("long").as("n_samples"))
      .orderBy("asset_id")
  }

  /** The encoder writes canonical 44-byte-header PCM WAVs: 16-bit mono
    * 8 kHz, data = 2 bytes/SAMPLE where samples come from
    * text.getBytes(UTF_8) — so the oracle must count BYTES
    * (strlen), not characters (length); they differ on any
    * non-ASCII document. */
  val wavMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_riff,
      |  CAST(36 + 2 * strlen(text) AS BIGINT) AS riff_size,
      |  CAST(1 AS BIGINT) AS audio_format, CAST(1 AS BIGINT) AS channels,
      |  CAST(8000 AS BIGINT) AS sample_rate, CAST(16 AS BIGINT) AS bits_per_sample,
      |  CAST(2 * strlen(text) AS BIGINT) AS data_bytes,
      |  CAST(strlen(text) AS BIGINT) AS n_samples
      |FROM documents ORDER BY asset_id""".stripMargin

  // ---------------------------------------------------------- safetensors

  /** One SAFETENSORS shard (huggingface/safetensors spec): 8-byte LE
    * header length, the JSON tensor table (space-padded to 8-byte
    * alignment, as real writers emit), then the raw tensor buffers —
    * here two I64 tensors, `labels` and `vec_ids`, written
    * little-endian in vec_id order. The JSON is serialized with a
    * FIXED field order so shard bytes are deterministic. */
  private[graft] def encodeSafetensors(vecIds: Array[Long], labels: Array[Long]): Array[Byte] = {
    val n = vecIds.length
    val json = s"""{"labels":{"dtype":"I64","shape":[$n],"data_offsets":[0,${8L * n}]},""" +
      s""""vec_ids":{"dtype":"I64","shape":[$n],"data_offsets":[${8L * n},${16L * n}]}}"""
    val pad = (8 - json.length % 8) % 8
    val header = json + (" " * pad)
    val bb = java.nio.ByteBuffer.allocate(8 + header.length + 16 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(header.length.toLong)
    bb.put(header.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    labels.foreach(bb.putLong)
    vecIds.foreach(bb.putLong)
    bb.array()
  }

  /** SAFETENSORS shard audit — the tensor-release format ML stacks
    * actually load ([[npyTensor]]'s multi-tensor successor): embeddings
    * are packed 4 shards × 2 I64 tensors by [[encodeSafetensors]], and
    * the PARSE side recovers everything from the bytes alone,
    * declaratively: the LE64 header length through [[uint]],
    * the tensor table via `get_json_object` on the header slice (shape,
    * dtype, data_offsets per tensor), and the tensor CONTENTS by
    * exploding byte positions and reassembling each little-endian I64 —
    * the sums certify the data section byte-for-byte, not just the
    * metadata. `offsets_ok` checks the spec's contiguity invariant
    * (labels end = vec_ids start, file length = 8 + header + last
    * offset). One scan + one shard-level aggregate; at 100 TB each
    * shard parses independently — the WebDataset/tar splittability
    * argument, and the same groupByKey one-task-per-shard write shape
    * as [[tfrecordIndex]]. */
  def safetensors(s: SparkSession, d: String): DataFrame = {
    val session = s
    import session.implicits._
    val shards = Tables.parallelize(Tables.embeddings(s, d))
      .select((col("vec_id") % 4).cast("int").as("shard"), col("vec_id"),
        col("label").cast("long").as("label"))
      .as[(Int, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val rows = it.toArray.sortBy(_._2)
        (shard, encodeSafetensors(rows.map(_._2), rows.map(_._3)))
      }
      .toDF("shard", "media")
    val meta = shards
      .withColumn("hlen", uint(lit(1), 8, LE))
      .withColumn("json", expr("substring(media, 9, cast(hlen as int))").cast("string"))
      .withColumn("n", get_json_object(col("json"), "$.labels.shape[0]").cast("long"))
      .withColumn("lab_dtype", get_json_object(col("json"), "$.labels.dtype"))
      .withColumn("vid_dtype", get_json_object(col("json"), "$.vec_ids.dtype"))
      .withColumn("lab_end", get_json_object(col("json"), "$.labels.data_offsets[1]").cast("long"))
      .withColumn("vid_beg", get_json_object(col("json"), "$.vec_ids.data_offsets[0]").cast("long"))
      .withColumn("vid_end", get_json_object(col("json"), "$.vec_ids.data_offsets[1]").cast("long"))
      .localCheckpoint() // keep: reuse
    val vals = meta
      .select(col("shard"), col("media"), col("hlen"), col("n"), col("vid_beg"))
      .withColumn("i", explode(expr("sequence(0, cast(n - 1 as int))")))
      .select(col("shard"),
        uint(lit(9) + col("hlen") + col("i") * 8L, 8, LE).as("label_v"),
        uint(lit(9) + col("hlen") + col("vid_beg") + col("i") * 8L, 8, LE).as("vid_v"))
      .groupBy("shard")
      .agg(sum("label_v").as("labels_sum"), sum("vid_v").as("vecids_sum"))
    meta.join(vals, "shard")
      .select(col("shard"), col("n"), col("hlen").as("header_len"),
        col("labels_sum"), col("vecids_sum"),
        (col("lab_end") === col("vid_beg") && col("vid_end") === col("n") * 16L &&
          length(col("media")).cast("long") === col("hlen") + col("vid_end") + 8L)
          .as("offsets_ok"),
        (col("lab_dtype") === "I64" && col("vid_dtype") === "I64").as("dtype_ok"))
      .orderBy("shard")
  }

  /** Oracle: every field is analytic from the shard census — the JSON
    * header is re-CONSTRUCTED textually (same fixed serialization) so
    * header_len, including its 8-byte alignment padding, is derived,
    * not assumed. */
  val safetensorsSql: String =
    """WITH m AS (
      |  SELECT CAST(vec_id % 4 AS INT) AS shard, vec_id, CAST(label AS BIGINT) AS label
      |  FROM embeddings
      |), c AS (
      |  SELECT shard, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(label) AS BIGINT) AS labels_sum,
      |    CAST(sum(vec_id) AS BIGINT) AS vecids_sum
      |  FROM m GROUP BY shard
      |), j AS (
      |  SELECT shard, n, labels_sum, vecids_sum,
      |    '{"labels":{"dtype":"I64","shape":[' || n || '],"data_offsets":[0,' || 8*n ||
      |    ']},"vec_ids":{"dtype":"I64","shape":[' || n || '],"data_offsets":[' || 8*n ||
      |    ',' || 16*n || ']}}' AS json
      |  FROM c
      |)
      |SELECT shard, n,
      |  CAST(strlen(json) + (8 - strlen(json) % 8) % 8 AS BIGINT) AS header_len,
      |  labels_sum, vecids_sum, TRUE AS offsets_ok, TRUE AS dtype_ok
      |FROM j ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- FLAC

  /** Header-only FLAC synthesis: "fLaC" magic + one STREAMINFO metadata
    * block (marked last): fixed 4096 blocksize, unknown framesizes,
    * 44.1 kHz stereo 16-bit packed into the spec's 20/3/5/36-bit field
    * layout with total_samples = the text's UTF-8 byte count, and the
    * 16-byte stream-MD5 slot carrying md5(text bytes) — every field a
    * pure function of the document, so the parse side is analytically
    * checkable. (Spec: xiph.org FLAC format §METADATA_BLOCK_STREAMINFO;
    * a header-only file is a legal FLAC prefix.) */
  private[graft] def encodeFlac(text: String): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream(42)
    out.write("fLaC".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(0x80) // last-block flag | type 0 = STREAMINFO
    out.write(0); out.write(0); out.write(34) // 24-bit BE block length
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def be24(v: Int): Unit = { out.write((v >> 16) & 0xff); be16(v & 0xffff) }
    be16(4096); be16(4096) // min/max blocksize
    be24(0); be24(0) // min/max framesize (0 = unknown)
    // 64-bit pack: rate(20) | channels-1(3) | bps-1(5) | total_samples(36)
    val packed = (44100L << 44) | (1L << 41) | (15L << 36) | bytes.length.toLong
    (7 to 0 by -1).foreach(i => out.write(((packed >> (8 * i)) & 0xff).toInt))
    out.write(java.security.MessageDigest.getInstance("MD5").digest(bytes))
    out.toByteArray
  }

  /** FLAC STREAMINFO parse — the lossless-audio twin of [[wavMeta]]:
    * magic + block-header decode (last flag, type, 24-bit BE length)
    * and the bit-packed 20/3/5/36 STREAMINFO fields recovered with
    * shift/mask arithmetic on the big-endian 64-bit word, all
    * DECLARATIVE [[uint]] column ops (codegen'd, no codec).
    * The stream-MD5 is surfaced as hex — the integrity handle an audio
    * corpus dedups and verifies on without ever decoding frames. One
    * scan, no shuffle: the 100 TB audio-catalog audit shape. */
  def flacMeta(s: SparkSession, d: String): DataFrame = {
    val packed = uint(lit(19), 8, BE)
    perDocument(s, d)((id, text) => (id, encodeFlac(text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (hex(substring(col("media"), 1, 4)) === "664C6143").as("valid_magic"),
        (uint(lit(5), 1, BE) >= 128L).as("is_last"),
        (uint(lit(5), 1, BE) % 128L).as("block_type"),
        uint(lit(6), 3, BE).as("block_len"),
        uint(lit(9), 2, BE).as("min_blocksize"), uint(lit(11), 2, BE).as("max_blocksize"),
        uint(lit(13), 3, BE).as("min_framesize"), uint(lit(16), 3, BE).as("max_framesize"),
        shiftright(packed, 44).as("sample_rate"),
        (shiftright(packed, 41).bitwiseAND(lit(7L)) + 1L).as("channels"),
        (shiftright(packed, 36).bitwiseAND(lit(31L)) + 1L).as("bits_per_sample"),
        packed.bitwiseAND(lit((1L << 36) - 1)).as("total_samples"),
        lower(hex(substring(col("media"), 27, 16))).as("stream_md5"))
      .orderBy("asset_id")
  }

  /** Every field is a pure function of the document (see encode), so
    * the oracle states the analytic truth directly — a parse that
    * misreads any bit fails the hex gate. */
  val flacMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_magic, TRUE AS is_last,
      |  CAST(0 AS BIGINT) AS block_type, CAST(34 AS BIGINT) AS block_len,
      |  CAST(4096 AS BIGINT) AS min_blocksize, CAST(4096 AS BIGINT) AS max_blocksize,
      |  CAST(0 AS BIGINT) AS min_framesize, CAST(0 AS BIGINT) AS max_framesize,
      |  CAST(44100 AS BIGINT) AS sample_rate, CAST(2 AS BIGINT) AS channels,
      |  CAST(16 AS BIGINT) AS bits_per_sample,
      |  CAST(strlen(text) AS BIGINT) AS total_samples,
      |  md5(text) AS stream_md5
      |FROM documents ORDER BY asset_id""".stripMargin

  // ----------------------------------------------------------------- BMP

  /** Text → real BMP bytes through the JDK's BMP writer, same 64-wide
    * grayscale raster as [[encodePng]]. BMP is the THIRD real-codec
    * image path (PNG lossless, JPEG lossy, BMP uncompressed): the JDK
    * emits the classic 54-byte BITMAPFILEHEADER+INFOHEADER, a 256-entry
    * grayscale palette (8-bit indexed), then raw rows BOTTOM-UP — every
    * header field is an analytic function of the text length (probed:
    * offset 1078, fileSize 1078 + 64·h for a 64-wide row with zero
    * padding since 64 ≡ 0 mod 4). */
  private[graft] def encodeBmp(text: String, width: Int = ImgW): Array[Byte] =
    imageIoBytes(grayRaster(text, width), "bmp")

  /** BMP header parse — the DIB twin of [[pngMeta]] on the
    * little-endian side: magic, file size, pixel-array offset (54-byte
    * headers + 1024-byte palette), BITMAPINFOHEADER geometry
    * (width/height/planes/bpp/compression/image size), all declarative
    * [[uint]] reads. `size_ok` cross-checks the header's file
    * size against actual container length (pinned TRUE) — BMP's
    * header-vs-truth mismatch is the classic malformed-upload signal a
    * crawler triage pass screens on. */
  def bmpMeta(s: SparkSession, d: String): DataFrame = {
    perDocument(s, d)((id, text) => (id, encodeBmp(text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (hex(substring(col("media"), 1, 2)) === "424D").as("valid_magic"),
        uint(lit(3), 4, LE).as("file_size"),
        uint(lit(11), 4, LE).as("pixel_offset"),
        uint(lit(15), 4, LE).as("header_size"),
        uint(lit(19), 4, LE).as("width"), uint(lit(23), 4, LE).as("height"),
        uint(lit(27), 2, LE).as("planes"), uint(lit(29), 2, LE).as("bpp"),
        uint(lit(31), 4, LE).as("compression"), uint(lit(35), 4, LE).as("image_size"),
        (uint(lit(3), 4, LE) === expr("length(media)")).as("size_ok"))
      .orderBy("asset_id")
  }

  /** Analytic oracle from the probed JDK writer layout: h = ⌈bytes/64⌉
    * (min 1), rows are 64 bytes (already 4-aligned, no padding). */
  val bmpMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_magic,
      |  CAST(1078 + 64 * greatest((strlen(text) + 63) // 64, 1) AS BIGINT) AS file_size,
      |  CAST(1078 AS BIGINT) AS pixel_offset, CAST(40 AS BIGINT) AS header_size,
      |  CAST(64 AS BIGINT) AS width,
      |  CAST(greatest((strlen(text) + 63) // 64, 1) AS BIGINT) AS height,
      |  CAST(1 AS BIGINT) AS planes, CAST(8 AS BIGINT) AS bpp,
      |  CAST(0 AS BIGINT) AS compression,
      |  CAST(64 * greatest((strlen(text) + 63) // 64, 1) AS BIGINT) AS image_size,
      |  TRUE AS size_ok
      |FROM documents ORDER BY asset_id""".stripMargin

  // --------------------------------------------------- WebDataset pairs

  /** WEBDATASET PAIRED-SAMPLE integrity audit — the curation check a
    * multimodal tar corpus runs before training: WebDataset groups a
    * sample's modalities by FILENAME STEM inside one shard tar
    * (`000017.txt` + `000017.png` = one sample), and a missing member
    * silently becomes a half-sample the loader either crashes on or
    * drops. Every doc here becomes a txt member plus (for docs with
    * `doc_id % 13 != 0` — a deterministic ~8 % breakage plant, the
    * [[t_unicode_norm]] planted-fault discipline) a real PNG member;
    * shards are real tars (one `mapGroups` task per shard, members
    * stem-sorted for shuffle-order-proof bytes), the audit walks
    * [[parseTar]]'s checksum-verified index, groups by stem and emits
    * per-sample modality presence + completeness. The oracle states
    * the plant analytically, so a parse that drops or duplicates any
    * member turns the row red. Scale shape: one task per shard, audit
    * is one groupBy over the member index — never the payload bytes. */
  def wdsPaired(s: SparkSession, d: String): DataFrame = {
    val session = s
    import session.implicits._
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    Tables.documents(s, d)
      .select(bucket.as("shard"), col("doc_id"), col("text"))
      .as[(Int, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val members = it.toArray.sortBy(_._2).flatMap { case (_, id, t) =>
          val txt = (f"$id%08d.txt", t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (id % 13 != 0) Seq(txt, (f"$id%08d.png", encodePng(t))) else Seq(txt)
        }
        (shard, encodeTar(members.toSeq))
      }
      .flatMap { case (shard, tar) =>
        parseTar(tar).map { case (name, _, size, ok, _) =>
          (shard, name.takeWhile(_ != '.').toLong, name.dropWhile(_ != '.').drop(1),
            size, ok)
        }
      }
      .toDF("shard", "doc_id", "ext", "size_bytes", "cksum_ok")
      .groupBy("shard", "doc_id")
      .agg(max(when(col("ext") === "txt", col("cksum_ok"))).as("has_txt"),
        coalesce(max(when(col("ext") === "png", col("cksum_ok"))), lit(false))
          .as("has_img"),
        max(when(col("ext") === "txt", col("size_bytes"))).as("txt_bytes"),
        count(lit(1)).cast("int").as("n_members"))
      .withColumn("complete", col("has_txt") && col("has_img"))
      .orderBy("doc_id")
  }

  /** Analytic oracle: shard = C-parity djb2 % 16 (OracleCtes.djb2Sql), txt
    * always present, png present iff doc_id % 13 != 0. */
  val wdsPairedSql: String =
    s"""SELECT CAST(${OracleCtes.djb2Sql("CAST(doc_id AS VARCHAR)")} % 16 AS INT) AS shard, doc_id,
      |  TRUE AS has_txt, doc_id % 13 <> 0 AS has_img,
      |  CAST(strlen(text) AS BIGINT) AS txt_bytes,
      |  CAST(CASE WHEN doc_id % 13 <> 0 THEN 2 ELSE 1 END AS INT) AS n_members,
      |  doc_id % 13 <> 0 AS complete
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- ID3

  /** documents → an MP3-shaped asset: a spec-correct ID3v2.4 tag (the
    * metadata block every audio crawler reads before touching frames)
    * followed by the text bytes as opaque "audio" payload. Tag layout:
    * 10-byte header with the SYNCSAFE 28-bit size (7 bits per byte,
    * MSB clear — the format's trademark arithmetic), a TIT2 title
    * frame (`doc-<id>`) and a COMM comment frame carrying the text
    * (encoding 0, "eng", empty description) — both with syncsafe
    * frame sizes, so the parse below must get the 7-bit decode right
    * TWICE to walk the tag. */
  private[graft] def encodeId3(id: Long, text: String): Array[Byte] = {
    val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val title = s"doc-$id".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val tit2Body = 1 + title.length            // encoding byte + text
    val commBody = 1 + 3 + 1 + payload.length  // enc + lang + NUL desc + text
    val tagSize = (10 + tit2Body) + (10 + commBody)
    val bb = java.nio.ByteBuffer.allocate(10 + tagSize + payload.length)
    def ss4(v: Int): Unit = {
      bb.put(((v >> 21) & 0x7f).toByte); bb.put(((v >> 14) & 0x7f).toByte)
      bb.put(((v >> 7) & 0x7f).toByte); bb.put((v & 0x7f).toByte)
    }
    bb.put("ID3".getBytes("US-ASCII")); bb.put(4.toByte); bb.put(0.toByte)
    bb.put(0.toByte); ss4(tagSize)
    bb.put("TIT2".getBytes("US-ASCII")); ss4(tit2Body)
    bb.put(0.toByte); bb.put(0.toByte) // frame flags
    bb.put(0.toByte)                   // encoding: ISO-8859-1
    bb.put(title)
    bb.put("COMM".getBytes("US-ASCII")); ss4(commBody)
    bb.put(0.toByte); bb.put(0.toByte)
    bb.put(0.toByte); bb.put("eng".getBytes("US-ASCII")); bb.put(0.toByte)
    bb.put(payload)     // COMM text
    bb.put(payload)     // the "audio" region after the tag (opaque payload)
    bb.array()
  }

  /** ID3v2.4 TAG parse — magic/version/flags, the syncsafe 28-bit tag
    * size, the TIT2 frame walked to its title string, and the audio
    * region sized from `total − 10 − tag_size` — all declarative
    * [[uint]] reads + arithmetic (the syncsafe decode is four one-byte
    * reads and three shifts, codegen'd). `size_ok` pins the syncsafe arithmetic
    * against the actual byte length: a parser that reads the size as a
    * plain big-endian int (the classic ID3 bug — off by the MSB
    * stuffing) lands 10.5 MB away on a real tag and flips the gate
    * here. One scan, no codec, the audio-crawler triage shape. */
  def id3Meta(s: SparkSession, d: String): DataFrame = {
    // syncsafe: four bytes of 7 value bits each, MSB first
    def ss4(off: Int) = uint(lit(off), 1, BE) * 2097152L + uint(lit(off + 1), 1, BE) * 16384L +
      uint(lit(off + 2), 1, BE) * 128L + uint(lit(off + 3), 1, BE)
    val tagSize = ss4(7)
    val tit2Size = ss4(15)
    // title payload sits after the 10-byte TIT2 header + 1 encoding
    // byte (offset 22, 1-based); its length is the frame body minus
    // the encoding byte — read through the SAME syncsafe decode the
    // gate is certifying
    val title = col("media").substr(lit(22), (tit2Size - 1).cast("int")).cast("string")
    perDocument(s, d)((id, text) => (id, encodeId3(id, text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (expr("string(substring(media, 1, 3))") === "ID3").as("valid_magic"),
        uint(lit(4), 1, BE).as("version_major"), uint(lit(5), 1, BE).as("version_rev"),
        uint(lit(6), 1, BE).as("flags"),
        tagSize.as("tag_size"),
        (expr("string(substring(media, 11, 4))") === "TIT2").as("has_title_frame"),
        title.as("title"),
        (expr("length(media)") - 10L - tagSize).as("audio_bytes"),
        // TIT2(10 + 1 + |title|) + COMM(10 + 5 + |audio|) must equal the
        // header's syncsafe size against the ACTUAL lengths
        (tagSize === lit(26L) + (tit2Size - 1L) +
          (expr("length(media)") - 10L - tagSize)).as("size_ok"))
      .orderBy("asset_id")
  }

  /** Analytic oracle: tag_size = 26 + len("doc-"+id) + byte length
    * (TIT2 = 10+1+|title|, COMM = 10+5+|bytes|); audio region = the
    * text bytes verbatim. */
  val id3MetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_magic,
      |  CAST(4 AS BIGINT) AS version_major, CAST(0 AS BIGINT) AS version_rev,
      |  CAST(0 AS BIGINT) AS flags,
      |  CAST(26 + length('doc-' || CAST(doc_id AS VARCHAR)) + strlen(text) AS BIGINT) AS tag_size,
      |  TRUE AS has_title_frame,
      |  'doc-' || CAST(doc_id AS VARCHAR) AS title,
      |  CAST(strlen(text) AS BIGINT) AS audio_bytes,
      |  TRUE AS size_ok
      |FROM documents ORDER BY asset_id""".stripMargin

  // ---------------------------------------------------------------- zstd

  /** ZSTD FRAME header parse over REAL zstd-compressed documents (the
    * JVM's zstd-jni, the exact codec Spark's own parquet/shuffle zstd
    * path links): magic `28 B5 2F FD` (LE), the Frame_Header_Descriptor
    * bit field (Frame_Content_Size flag, Single_Segment, checksum,
    * dictionary id), and the variable-width Frame_Content_Size field
    * (1 byte as-is / 2 bytes LE + 256 / 4 bytes LE — RFC 8878 §3.1.1),
    * decoded declaratively with shift/mask ops over [[uint]]. The
    * parsed content size must equal the document's BYTE length — the
    * header-vs-truth check an object store runs to size decompression
    * buffers WITHOUT trusting the payload; `roundtrip_ok` (real
    * decompress equals source bytes) is pinned TRUE beside it. One
    * scan; the codec runs in the [[perDocument]] pass, the parse is
    * codegen'd column ops. */
  def zstdFrame(s: SparkSession, d: String): DataFrame = {
    val assets = perDocument(s, d) { (id, t) =>
        val src = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val c = com.github.luben.zstd.Zstd.compress(src, 3)
        val back = com.github.luben.zstd.Zstd.decompress(c, src.length)
        (id, c, java.util.Arrays.equals(back, src))
      }
      .toDF("asset_id", "media", "roundtrip_ok")
    val fhd = uint(lit(5), 1, LE)
    val fcsFlag = shiftright(fhd, 6)
    assets.select(col("asset_id"),
        (hex(substring(col("media"), 1, 4)) === "28B52FFD").as("valid_magic"),
        (shiftright(fhd, 5).bitwiseAND(lit(1L)) === 1L).as("single_segment"),
        (shiftright(fhd, 2).bitwiseAND(lit(1L)) === 1L).as("has_checksum"),
        fhd.bitwiseAND(lit(3L)).as("dict_id_flag"),
        when(fcsFlag === 0L, uint(lit(6), 1, LE))
          .when(fcsFlag === 1L, uint(lit(6), 2, LE) + 256L)
          .when(fcsFlag === 2L, uint(lit(6), 4, LE))
          .as("content_size"),
        col("roundtrip_ok"))
      .orderBy("asset_id")
  }

  /** Analytic oracle: content size is the document's byte length; the
    * simple-API encoder always emits single-segment frames with an
    * explicit FCS, no checksum, no dictionary. */
  val zstdFrameSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_magic, TRUE AS single_segment,
      |  FALSE AS has_checksum, CAST(0 AS BIGINT) AS dict_id_flag,
      |  CAST(strlen(text) AS BIGINT) AS content_size, TRUE AS roundtrip_ok
      |FROM documents ORDER BY asset_id""".stripMargin

  // ---------------------------------------------------------------- avro

  /** documents → a real single-record Avro OBJECT CONTAINER FILE built
    * byte-by-byte to the public spec (magic `Obj\x01`; file-metadata
    * map with `avro.codec`/`avro.schema` entries, zigzag-varint
    * lengths; 16-byte sync marker repeated after every data block; one
    * block of count/size varints + the text bytes as a `bytes`-typed
    * record field). The fixed metadata makes every header offset a
    * compile-time constant; only the block's THREE varints vary with
    * the payload — exactly the fields the parse must decode to walk a
    * real container. Sync bytes derive from md5(`doc-id`), so the
    * header/trailer comparison is content-dependent, not a constant. */
  private[graft] val avroSchemaJson: String =
    """{"type":"record","name":"doc","fields":[{"name":"body","type":"bytes"}]}"""

  private[graft] def encodeAvroOcf(id: Long, text: String): Array[Byte] = {
    val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def zig(n: Long): Array[Byte] = {
      var z = n << 1
      val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var more = true
      while (more) {
        val b = (z & 0x7f).toInt
        z >>>= 7
        more = z != 0
        buf += (if (more) (b | 0x80) else b).toByte
      }
      buf.toArray
    }
    val out = new java.io.ByteArrayOutputStream(body.length + 160)
    out.write(Array[Byte]('O', 'b', 'j', 1), 0, 4)
    out.write(zig(2), 0, 1)
    def kv(k: String, v: Array[Byte]): Unit = {
      val kb = k.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val kl = zig(kb.length); out.write(kl, 0, kl.length); out.write(kb, 0, kb.length)
      val vl = zig(v.length); out.write(vl, 0, vl.length); out.write(v, 0, v.length)
    }
    kv("avro.codec", "null".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    kv("avro.schema", avroSchemaJson.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(0)
    val sync = java.security.MessageDigest.getInstance("MD5")
      .digest(s"doc-$id".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(sync, 0, 16)
    val lenV = zig(body.length)
    val one = zig(1); out.write(one, 0, one.length)
    val szV = zig(lenV.length + body.length); out.write(szV, 0, szV.length)
    out.write(lenV, 0, lenV.length); out.write(body, 0, body.length)
    out.write(sync, 0, 16)
    out.toByteArray
  }

  /** Bytes of the constant OCF header (everything before the first
    * data block) — magic(4) + map count(1) + codec entry(1+10+1+4) +
    * schema entry(1+11 + zig-width + |schema|) + terminator(1) +
    * sync(16). Compile-time constant because the metadata is fixed. */
  private[graft] val avroHeaderLen: Int =
    4 + 1 + (1 + 10 + 1 + 4) + (1 + 11 + 2 + avroSchemaJson.length) + 1 + 16

  /** AVRO OCF STRUCTURE parse — the container walk an ingest fleet does
    * before handing blocks to a decoder: magic, the codec string pulled
    * through the metadata map's own length varint, the data block's
    * count/size zigzag varints decoded with a GENERIC variable-width
    * (1–3 byte) when-chain — the corpus spans all widths the 553-byte
    * max needs — and three self-certifying checks: `framing_ok` (inner
    * length varint + its width must equal the block size — the
    * cross-varint identity a mis-stride breaks), `sync_ok` (trailing
    * sync equals header sync, byte-compared at a VARINT-COMPUTED
    * offset), `size_ok` (total file length replays from the parsed
    * sizes). One scan, codegen'd column ops; the encode runs in the
    * [[perDocument]] pass. */
  def avroOcf(s: SparkSession, d: String): DataFrame = {
    val assets = perDocument(s, d)((id, text) => (id, encodeAvroOcf(id, text)))
      .toDF("asset_id", "media")
    def varint(off: Column): (Column, Column) = {
      val b0 = uint(off, 1, LE); val b1 = uint(off + 1, 1, LE); val b2 = uint(off + 2, 1, LE)
      val v = when(b0 < 128, b0)
        .when(b1 < 128, (b0 - 128) + b1 * 128)
        .otherwise((b0 - 128) + (b1 - 128) * 128 + b2 * 16384)
      val w = when(b0 < 128, lit(1L)).when(b1 < 128, lit(2L)).otherwise(lit(3L))
      (v, w)
    }
    val hdr = lit(avroHeaderLen.toLong)
    val (cntZ, w1) = varint(hdr + 1)
    val (szZ, w2) = varint(hdr + 1 + w1)
    val blockSize = shiftright(szZ, 1)
    val (plZ, w3) = varint(hdr + w1 + w2 + 1)
    val payloadLen = shiftright(plZ, 1)
    // codec value: its length varint sits right after the 10-byte key
    val codecLen = shiftright(uint(lit(17L), 1, LE), 1)
    assets.select(col("asset_id"),
        (hex(col("media").substr(lit(1L), lit(4L))) === "4F626A01").as("valid_magic"),
        col("media").substr(lit(18L), codecLen).cast("string").as("codec"),
        shiftright(cntZ, 1).as("n_records"),
        blockSize.as("block_size"),
        payloadLen.as("payload_len"),
        (payloadLen + w3 === blockSize).as("framing_ok"),
        (col("media").substr(hdr - 15, lit(16L)) ===
          col("media").substr(hdr + w1 + w2 + blockSize + 1, lit(16L))).as("sync_ok"),
        (length(col("media")) === hdr + w1 + w2 + blockSize + 16L).as("size_ok"))
      .orderBy("asset_id")
  }

  /** Analytic oracle: block size = byte length + its own length
    * varint's width (1 byte under 64, 2 under 8192 — zigzag doubles
    * the value); every certificate column pinned. */
  val avroOcfSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_magic, 'null' AS codec,
      |  CAST(1 AS BIGINT) AS n_records,
      |  CAST(strlen(text) + CASE WHEN strlen(text) < 64 THEN 1
      |    WHEN strlen(text) < 8192 THEN 2 ELSE 3 END AS BIGINT) AS block_size,
      |  CAST(strlen(text) AS BIGINT) AS payload_len,
      |  TRUE AS framing_ok, TRUE AS sync_ok, TRUE AS size_ok
      |FROM documents ORDER BY asset_id""".stripMargin

  // ---------------------------------------------------------------- ebml

  /** Minimal-width EBML vint (RFC 8794 §4): the leading-one bit of the
    * FIRST byte encodes the width, value bits follow BIG-endian — the
    * mirror image of Avro's little-endian zigzag, which is why the
    * suite carries both decoders. All-ones patterns (127, 16383) mean
    * "unknown size" and are skipped to the next width, per spec. */
  private[graft] def ebmlVint(n: Long): Array[Byte] = {
    require(n >= 0 && n < 0x1FFFFF - 1, s"vint out of 3-byte range: $n")
    if (n < 127) Array((0x80 | n).toByte)
    else if (n < 16383) Array((0x40 | (n >> 8)).toByte, (n & 0xff).toByte)
    else Array((0x20 | (n >> 16)).toByte, ((n >> 8) & 0xff).toByte, (n & 0xff).toByte)
  }

  /** documents → a real minimal WebM/Matroska skeleton (RFC 8794 EBML +
    * the Matroska door ids): EBML header element `1A45DFA3` with
    * EBMLVersion / ReadVersion / DocType("webm") / DocTypeVersion
    * children, then a Segment `18538067` holding one Void element
    * (`EC` — the spec's own padding id) whose size vint frames the
    * text bytes. Every header offset is constant; the Segment and Void
    * size vints vary with the payload — the fields the parse must
    * actually decode. */
  private[graft] def encodeEbml(text: String): Array[Byte] = {
    val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream(body.length + 64)
    def w(bs: Array[Byte]): Unit = out.write(bs, 0, bs.length)
    def id(bytes: Int*): Unit = bytes.foreach(out.write)
    // EBML header: 4 fixed children = (2+1+1) + (2+1+1) + (2+1+4) + (2+1+1) = 19 bytes
    val children = (2 + 1 + 1) + (2 + 1 + 1) + (2 + 1 + 4) + (2 + 1 + 1)
    id(0x1A, 0x45, 0xDF, 0xA3); w(ebmlVint(children.toLong))
    id(0x42, 0x86); w(ebmlVint(1)); out.write(1)          // EBMLVersion 1
    id(0x42, 0xF7); w(ebmlVint(1)); out.write(1)          // EBMLReadVersion 1
    id(0x42, 0x82); w(ebmlVint(4)); w("webm".getBytes)    // DocType
    id(0x42, 0x87); w(ebmlVint(1)); out.write(2)          // DocTypeVersion 2
    val voidBytes = ebmlVint(body.length.toLong)
    val segPayload = 1 + voidBytes.length + body.length
    id(0x18, 0x53, 0x80, 0x67); w(ebmlVint(segPayload.toLong))
    out.write(0xEC); w(voidBytes); w(body)
    out.toByteArray
  }

  /** EBML STRUCTURE parse — the demux-triage walk a video-ingest fleet
    * runs before routing WebM shards to real decoders: magic, the
    * DocType string pulled through ITS size vint, and the Segment/Void
    * size vints decoded with a generic big-endian leading-one-width
    * when-chain (1–3 bytes; the corpus spans 1- and 2-byte widths).
    * `framing_ok` pins the cross-vint identity segment = id + vint
    * width + payload; `size_ok` replays total file length from parsed
    * sizes alone — a mis-stride anywhere flips one of the pinned
    * booleans. One scan, codegen'd column ops. */
  def ebmlMeta(s: SparkSession, d: String): DataFrame = {
    val assets = perDocument(s, d)((id, text) => (id, encodeEbml(text)))
      .toDF("asset_id", "media")
    def vint(off: Column): (Column, Column) = {
      val b0 = uint(off, 1, BE); val b1 = uint(off + 1, 1, BE); val b2 = uint(off + 2, 1, BE)
      val v = when(b0 >= 128, b0 - 128)
        .when(b0 >= 64, (b0 - 64) * 256 + b1)
        .otherwise((b0 - 32) * 65536 + b1 * 256 + b2)
      val w = when(b0 >= 128, lit(1L)).when(b0 >= 64, lit(2L)).otherwise(lit(3L))
      (v, w)
    }
    val (hdrSize, hw) = vint(lit(5L))
    val segOff = lit(4L) + hw + hdrSize          // 0-based bytes before Segment id
    val (segSize, sw) = vint(segOff + 5)
    val (voidSize, vw) = vint(segOff + 6 + sw)
    assets.select(col("asset_id"),
        (hex(col("media").substr(lit(1L), lit(4L))) === "1A45DFA3").as("valid_magic"),
        col("media").substr(lit(17L), lit(4L)).cast("string").as("doc_type"),
        hdrSize.as("header_size"),
        segSize.as("segment_size"),
        voidSize.as("payload_len"),
        (segSize === lit(1L) + vw + voidSize).as("framing_ok"),
        (length(col("media")) === segOff + 4 + sw + segSize).as("size_ok"))
      .orderBy("asset_id")
  }

  /** Analytic oracle: header children are 19 fixed bytes; segment size
    * = 1 + vint width of the byte length (2 bytes from 127 up — the
    * all-ones reservation shifts the 1-byte ceiling to 126) + the byte
    * length; every certificate pinned. */
  val ebmlMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_magic, 'webm' AS doc_type,
      |  CAST(19 AS BIGINT) AS header_size,
      |  CAST(strlen(text) + 1 + CASE WHEN strlen(text) < 127 THEN 1
      |    WHEN strlen(text) < 16383 THEN 2 ELSE 3 END AS BIGINT) AS segment_size,
      |  CAST(strlen(text) AS BIGINT) AS payload_len,
      |  TRUE AS framing_ok, TRUE AS size_ok
      |FROM documents ORDER BY asset_id""".stripMargin

  // --------------------------------------------------------------- G.711

  /** G.711 μ-LAW encode (ITU-T spec arithmetic): bias 132, clamp 32635,
    * 8 exponent segments, 4-bit mantissa, ones-complement byte. Pure
    * integer — bit-portable to the oracle's CASE ladder. */
  private[graft] def ulawEncode(x0: Int): Int = {
    var x = x0
    val sign = if (x < 0) { x = -x; 0x80 } else 0
    if (x > 32635) x = 32635
    x += 132
    var exp = 7; var mask = 0x4000
    while (exp > 0 && (x & mask) == 0) { exp -= 1; mask >>= 1 }
    val mant = (x >> (exp + 3)) & 0x0f
    ~(sign | (exp << 4) | mant) & 0xff
  }

  /** μ-law decode: the segment-cell midpoint ((8·mant + 132) · 2^exp −
    * 132), signed. */
  private[graft] def ulawDecode(u0: Int): Int = {
    val u = ~u0 & 0xff
    val m = (((u & 0x0f) << 3) + 132) << ((u >> 4) & 0x07)
    if ((u & 0x80) != 0) -(m - 132) else m - 132
  }

  /** G.711 μ-LAW COMPANDING audit — the telephony/ASR-corpus codec
    * (8-bit log PCM): every synthesized 16-bit sample (the engine's
    * (codepoint−64)·256 PCM map, clamped) is companded to one μ-law
    * byte and expanded back, and THREE certificates are pinned per
    * document: `bound_ok` (each IN-RANGE error ≤ half its segment's
    * step, 2^(exp+2) — the property that makes log companding
    * transparent for speech; samples beyond the encoder's ±32635 clamp
    * carry clamp error, not quantization error, and are excluded on
    * both engines), exact error sums/maxima (order-free integer
    * aggregates),
    * and `code_sum` (the summed encoded bytes — a content checksum of
    * the companded stream both engines must reproduce bit-for-bit from
    * the SPEC ARITHMETIC, not a shared implementation). JVM loop runs
    * in the [[perDocument]] pass (the codec shape); the oracle replays
    * the identical integer CASE ladder per codepoint. */
  def pcmUlaw(s: SparkSession, d: String): DataFrame = {
    perDocument(s, d) { (id, text) =>
        var n = 0L; var errSum = 0L; var errMax = 0L
        var codeSum = 0L; var boundOk = true
        val it = text.codePoints().iterator()
        while (it.hasNext) {
          val v0 = (it.next() - 64) * 256
          val v = math.max(-32768, math.min(32767, v0))
          val u = ulawEncode(v)
          val dec = ulawDecode(u)
          val exp = ((~u & 0xff) >> 4) & 0x07
          val err = math.abs(v.toLong - dec)
          n += 1; errSum += err; errMax = math.max(errMax, err)
          codeSum += u
          // the half-step bound only holds INSIDE the codec's input
          // range: the encoder clamps magnitude at 32635, so a PCM
          // sample beyond that carries clamp error (up to 643 at
          // 32767), not quantization error — exclude it, same CASE on
          // the oracle side
          if (math.abs(v) <= 32635 && err > (1L << (exp + 2))) boundOk = false
        }
        (id, n, errSum, errMax, boundOk, codeSum)
      }
      .toDF("asset_id", "n_samples", "err_sum", "err_max", "bound_ok", "code_sum")
      .orderBy("asset_id")
  }

  /** SQL twin: the same bias/clamp/segment/mantissa integer ladder per
    * codepoint, aggregated with order-free sums; documents LEFT JOIN
    * the grouped aggregates so an EMPTY document emits the same
    * zero-filled row the Spark side does (generate_series(1,0) is
    * empty, which would otherwise drop the doc from GROUP BY). */
  val pcmUlawSql: String =
    """WITH chars AS (
      |  SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text FROM documents
      |), pcm AS (
      |  SELECT doc_id,
      |    greatest(-32768, least(32767, (ord(substr(text, i, 1)) - 64) * 256)) AS v
      |  FROM chars
      |), enc AS (
      |  SELECT doc_id, v,
      |    CASE WHEN v < 0 THEN 128 ELSE 0 END AS sgn,
      |    least(abs(v), 32635) + 132 AS x
      |  FROM pcm
      |), seg AS (
      |  SELECT doc_id, v, sgn, x,
      |    CASE WHEN x >= 16384 THEN 7 WHEN x >= 8192 THEN 6 WHEN x >= 4096 THEN 5
      |         WHEN x >= 2048 THEN 4 WHEN x >= 1024 THEN 3 WHEN x >= 512 THEN 2
      |         WHEN x >= 256 THEN 1 ELSE 0 END AS e
      |  FROM enc
      |), cod AS (
      |  SELECT doc_id, v, e,
      |    255 - (sgn + e * 16 + ((x >> (e + 3)) & 15)) AS u,
      |    (((((x >> (e + 3)) & 15) * 8) + 132) << e) - 132 AS mag
      |  FROM seg
      |), err AS (
      |  SELECT doc_id, u, e, v,
      |    abs(v - (CASE WHEN v < 0 THEN -mag ELSE mag END)) AS ae
      |  FROM cod
      |), agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
      |    CAST(sum(ae) AS BIGINT) AS err_sum, CAST(max(ae) AS BIGINT) AS err_max,
      |    bool_and(CASE WHEN abs(v) <= 32635 THEN ae <= (1 << (e + 2)) ELSE TRUE END) AS bound_ok,
      |    CAST(sum(u) AS BIGINT) AS code_sum
      |  FROM err GROUP BY doc_id
      |)
      |SELECT d.doc_id AS asset_id,
      |  coalesce(a.n_samples, 0) AS n_samples,
      |  coalesce(a.err_sum, 0) AS err_sum,
      |  coalesce(a.err_max, 0) AS err_max,
      |  coalesce(a.bound_ok, TRUE) AS bound_ok,
      |  coalesce(a.code_sum, 0) AS code_sum
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY asset_id""".stripMargin

  // ----------------------------------------------------------------- ogg

  /** documents → one real OGG page (RFC 3533): capture pattern `OggS`,
    * version 0, header-type 0x04 (end-of-stream), granule position =
    * payload byte length (LE64), serial = doc_id (LE32), page 0, CRC
    * field zeroed (OGG's CRC32 uses a bespoke polynomial; the byte
    * SLOT is parsed, its value is not certified), then the LACING
    * TABLE — the container's own length encoding: ⌊L/255⌋ full
    * segments of 255 plus one final segment of L mod 255 (a payload
    * that is an exact multiple of 255 legally ends with a ZERO lacing
    * value — the edge the formula keeps). */
  private[graft] def encodeOgg(id: Long, text: String): Array[Byte] = {
    val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val nFull = body.length / 255
    // RFC 3533: one page carries at most 255 lacing values; past that
    // the segment-count byte would silently wrap (ByteArrayOutputStream
    // .write keeps the low 8 bits) and corrupt the container — fail
    // loudly like ebmlVint's range guard instead
    require(nFull + 1 <= 255,
      s"encodeOgg: payload ${body.length} B exceeds the 65 KB single-page limit (doc $id)")
    val out = new java.io.ByteArrayOutputStream(body.length + 64)
    out.write("OggS".getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    out.write(0); out.write(4)
    def le(v: Long, bytes: Int): Unit =
      (0 until bytes).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    le(body.length.toLong, 8)           // granule position
    le(id & 0xffffffffL, 4)             // bitstream serial
    le(0L, 4)                           // page sequence
    le(0L, 4)                           // crc slot (not certified)
    out.write(nFull + 1)                // segment count
    (0 until nFull).foreach(_ => out.write(255))
    out.write(body.length % 255)        // final lacing value
    out.write(body, 0, body.length)
    out.toByteArray
  }

  /** OGG PAGE parse — the demux walk before handing packets to a Vorbis/
    * Opus decoder: capture pattern, LE64 granule, LE32 serial, and the
    * LACING reconstruction (payload length = 255·(n_seg−1) + last
    * lacing value, with every non-final lacing byte pinned 0xFF via a
    * hex-vs-repeat comparison — a table mis-stride cannot pass).
    * `size_ok` replays total page length from the parsed segment count
    * and lacing alone. One scan, codegen'd column ops. */
  def oggPages(s: SparkSession, d: String): DataFrame = {
    val nSeg = uint(lit(27L), 1, LE)
    val lastLacing = uint(lit(27L) + nSeg, 1, LE)
    val payloadLen = (nSeg - 1L) * 255L + lastLacing
    perDocument(s, d)((id, text) => (id, encodeOgg(id, text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (col("media").substr(lit(1L), lit(4L)).cast("string") === "OggS").as("valid_magic"),
        uint(lit(5L), 1, LE).as("version"), uint(lit(6L), 1, LE).as("header_type"),
        uint(lit(7), 8, LE).as("granule"), uint(lit(15), 4, LE).as("serial"),
        nSeg.as("n_segments"), payloadLen.as("payload_len"),
        // all-0xFF check: the hex rendering of the non-final lacing
        // region may contain no nibble other than F (FF is the only
        // byte whose hex is pure F), and the empty region is vacuous
        (translate(hex(col("media").substr(lit(28L), nSeg - 1L)), "F", "") === "")
          .as("lacing_ok"),
        (length(col("media")) === lit(27L) + nSeg + payloadLen).as("size_ok"))
      .orderBy("asset_id")
  }

  /** Analytic oracle: n_segments = ⌊L/255⌋ + 1, granule = payload = L,
    * serial = doc_id; every certificate pinned. */
  val oggPagesSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_magic,
      |  CAST(0 AS BIGINT) AS version, CAST(4 AS BIGINT) AS header_type,
      |  CAST(strlen(text) AS BIGINT) AS granule, doc_id AS serial,
      |  CAST(strlen(text) // 255 + 1 AS BIGINT) AS n_segments,
      |  CAST(strlen(text) AS BIGINT) AS payload_len,
      |  TRUE AS lacing_ok, TRUE AS size_ok
      |FROM documents ORDER BY asset_id""".stripMargin

  // ------------------------------------------------------------------ ar

  /** documents → a real Unix `ar` archive (the .deb / static-library
    * container): global magic "!<arch>\n", one 60-byte member header —
    * 16-char name, 12+6+6+8 chars of decimal metadata, a 10-char
    * DECIMAL-ASCII size field (the format's length encoding: the third
    * dialect in the suite, beside Avro's LE zigzag and EBML's
    * BE leading-one vints), the "`\n" end-of-header magic — then the
    * payload padded to EVEN length with '\n' (the alignment rule that
    * trips naive writers on odd payloads). */
  private[graft] def encodeAr(text: String): Array[Byte] = {
    val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def pad(v: String, n: Int) = (v + " " * n).substring(0, n)
    val hdr = "!<arch>\n" + pad("doc.txt/", 16) + pad("0", 12) + pad("0", 6) +
      pad("0", 6) + pad("100644", 8) + pad(body.length.toString, 10) + "`\n"
    val out = new java.io.ByteArrayOutputStream(body.length + 72)
    out.write(hdr.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 68)
    out.write(body, 0, body.length)
    if (body.length % 2 == 1) out.write('\n')
    out.toByteArray
  }

  /** AR ARCHIVE parse: global + end-of-header magics, trimmed name and
    * mode, the decimal-ASCII size field through trim+cast, and the
    * even-alignment identity `size_ok` (total = 68 + size + size mod 2)
    * that a writer which forgot the pad byte fails on every odd
    * payload. One scan, codegen'd column ops. */
  def arMeta(s: SparkSession, d: String): DataFrame = {
    def str(off: Int, len: Int): Column =
      col("media").substr(lit(off.toLong), lit(len.toLong)).cast("string")
    val size = trim(str(57, 10)).cast("long")
    perDocument(s, d)((id, text) => (id, encodeAr(text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (str(1, 8) === "!<arch>\n").as("valid_magic"),
        trim(str(9, 16)).as("member_name"),
        trim(str(49, 8)).as("mode"),
        size.as("member_size"),
        (hex(col("media").substr(lit(67L), lit(2L))) === "600A").as("end_magic_ok"),
        (length(col("media")) === lit(68L) + size + pmod(size, lit(2L))).as("size_ok"))
      .orderBy("asset_id")
  }

  /** Analytic oracle: size = byte length; all certificates pinned. */
  val arMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_magic, 'doc.txt/' AS member_name,
      |  '100644' AS mode, CAST(strlen(text) AS BIGINT) AS member_size,
      |  TRUE AS end_magic_ok, TRUE AS size_ok
      |FROM documents ORDER BY asset_id""".stripMargin

  // ----------------------------------------------------------------- PDF

  /** documents → a real minimal PDF (header, catalog/pages/page object
    * chain, one content stream carrying the text bytes, a correct xref
    * table with byte-exact object offsets, trailer + startxref). Every
    * offset is a pure function of the text's BYTE length, so the parse
    * side has an analytic oracle — the [[encodeWav]]/[[encodeFlac]]
    * contract for the one document container a scraped corpus holds
    * more of than HTML. */
  private[graft] def encodePdf(text: String): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val header = "%PDF-1.7\n"
    val o1 = "1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
    val o2 = "2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj\n"
    val o3 = "3 0 obj<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Contents 4 0 R>>endobj\n"
    val o4head = s"4 0 obj<</Length ${bytes.length}>>stream\n"
    val o4tail = "\nendstream\nendobj\n"
    val off1 = header.length
    val off2 = off1 + o1.length
    val off3 = off2 + o2.length
    val off4 = off3 + o3.length
    val startxref = off4 + o4head.length + bytes.length + o4tail.length
    def ent(off: Int) = f"$off%010d 00000 n \n"
    val xref = "xref\n0 5\n" + "0000000000 65535 f \n" +
      ent(off1) + ent(off2) + ent(off3) + ent(off4) +
      s"trailer<</Size 5/Root 1 0 R>>\nstartxref\n$startxref\n%%EOF"
    val out = new java.io.ByteArrayOutputStream(startxref + xref.length)
    out.write(header.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(o1.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(o2.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(o3.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(o4head.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(bytes)
    out.write(o4tail.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(xref.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.toByteArray
  }

  /** PDF STRUCTURE parse — header version, object census from the xref
    * subsection line, content-stream /Length, the startxref byte
    * pointer, and %%EOF framing, all DECLARATIVE substring/regexp ops
    * (PDF's skeleton is ASCII by spec — only stream payloads are
    * binary, and this parse never enters them). The self-certifying
    * field is `xref_ok`: the parsed startxref is dereferenced with a
    * BYTE-offset substring into the BINARY column and must land
    * exactly on the `xref` keyword — a parse that confuses chars with
    * bytes (multi-byte corpus text!) or drifts by one fails the
    * oracle's pinned TRUE, precisely the check a 100 TB PDF triage
    * pass runs before handing files to a real renderer fleet. One
    * scan, no shuffle, no codec. */
  def pdfMeta(s: SparkSession, d: String): DataFrame = {
    // the ASCII trailer region (xref table + trailer + startxref tops
    // out at 174 bytes): the last 200 bytes always cover it; a tail
    // window that starts mid-payload only feeds extra bytes ahead of
    // the end-anchored patterns
    val tail = expr("string(substring(media, greatest(length(media) - 199, 1), 200))")
    val full = expr("string(media)")
    val sxr = regexp_extract(tail, "startxref\\n(\\d+)\\n%%EOF$", 1).cast("long")
    perDocument(s, d)((id, text) => (id, encodePdf(text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (expr("string(substring(media, 1, 5))") === "%PDF-").as("valid_header"),
        expr("string(substring(media, 6, 3))").as("version"),
        regexp_extract(tail, "xref\\n0 (\\d+)\\n", 1).cast("int").as("n_objects"),
        regexp_extract(full, "<</Length (\\d+)>>stream", 1).cast("long").as("stream_len"),
        sxr.as("startxref"),
        (expr("string(substring(media, " +
          "cast(regexp_extract(string(substring(media, greatest(length(media) - 199, 1), 200)), " +
          "'startxref\\\\n(\\\\d+)\\\\n%%EOF$', 1) as long) + 1, 4))") === "xref").as("xref_ok"),
        tail.endsWith("%%EOF").as("valid_eof"))
      .orderBy("asset_id")
  }

  /** Analytic oracle: startxref = 223 + digits(L) + L where L is the
    * text's BYTE length (196 bytes of fixed skeleton before the length
    * digits, 9 after them, 18 after the payload — see [[encodePdf]]);
    * xref_ok/valid_eof pinned TRUE so the parse must be byte-exact. */
  val pdfMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_header, '1.7' AS version,
      |  5 AS n_objects, CAST(strlen(text) AS BIGINT) AS stream_len,
      |  CAST(223 + length(CAST(strlen(text) AS VARCHAR)) + strlen(text) AS BIGINT) AS startxref,
      |  TRUE AS xref_ok, TRUE AS valid_eof
      |FROM documents ORDER BY asset_id""".stripMargin

  // ---------------------------------------------------------------- WebP

  /** documents → a WebP (RIFF/VP8L) container with a spec-correct
    * lossless-stream header: RIFF framing, the VP8L chunk, the 0x2F
    * signature byte and the bit-packed 14/14/1/3 dimensions word
    * (width−1, height−1, alpha hint, version). Same 64-wide raster
    * geometry as [[encodePng]]. The payload AFTER the header is the
    * text bytes verbatim, not an entropy-coded stream (no WebP codec
    * in the JDK) — the metadata pass under test never enters payload
    * bytes, exactly the triage contract [[pdfMeta]] states. RIFF even-
    * size padding is honored, so the container walks correctly. */
  private[graft] def encodeWebp(text: String): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = math.max(1, (bytes.length + 63) / 64)
    val chunkLen = 1 + 4 + bytes.length // signature + bits word + payload
    val pad = chunkLen % 2
    val riffSize = 4 + 8 + chunkLen + pad // "WEBP" + chunk header + chunk
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(x: String): Unit = { bb.put(x.getBytes("US-ASCII")); () }
    fcc("RIFF"); bb.putInt(riffSize); fcc("WEBP")
    fcc("VP8L"); bb.putInt(chunkLen)
    bb.put(0x2f.toByte)
    // 14-bit width-1 | 14-bit height-1 | 1-bit alpha | 3-bit version
    bb.putInt((64 - 1) | ((h - 1) << 14))
    bb.put(bytes)
    if (pad == 1) bb.put(0.toByte)
    bb.array()
  }

  /** WebP/VP8L header parse — RIFF + chunk framing plus the bit-packed
    * dimensions word recovered with shift/mask arithmetic (the
    * [[flacMeta]] discipline, little-endian this time), all
    * declarative [[uint]] reads. `size_ok` re-verifies the RIFF
    * size field against actual container length INCLUDING the spec's
    * even-size pad byte — the off-by-one every hand-rolled RIFF walker
    * gets wrong, pinned TRUE by the oracle. */
  def webpMeta(s: SparkSession, d: String): DataFrame = {
    val bits = uint(lit(22), 4, LE)
    perDocument(s, d)((id, text) => (id, encodeWebp(text))).toDF("asset_id", "media")
      .select(col("asset_id"),
        (hex(substring(col("media"), 1, 4)) === "52494646" &&
          hex(substring(col("media"), 9, 4)) === "57454250" &&
          hex(substring(col("media"), 13, 4)) === "5650384C").as("valid_riff"),
        (uint(lit(21), 1, LE) === 0x2fL).as("valid_sig"),
        uint(lit(17), 4, LE).as("chunk_len"),
        (bits.bitwiseAND(lit(0x3fffL)) + 1L).as("width"),
        (shiftright(bits, 14).bitwiseAND(lit(0x3fffL)) + 1L).as("height"),
        (shiftright(bits, 28).bitwiseAND(lit(1L)) === 1L).as("has_alpha"),
        shiftright(bits, 29).bitwiseAND(lit(7L)).as("version"),
        (uint(lit(5), 4, LE) === expr("length(media)") - 8L).as("size_ok"))
      .orderBy("asset_id")
  }

  /** Analytic oracle: chunk_len = 5 + BYTE length (signature + bits
    * word + payload); geometry matches the PNG raster; size_ok TRUE
    * certifies the pad-byte arithmetic. */
  val webpMetaSql: String =
    """SELECT doc_id AS asset_id, TRUE AS valid_riff, TRUE AS valid_sig,
      |  CAST(5 + strlen(text) AS BIGINT) AS chunk_len,
      |  CAST(64 AS BIGINT) AS width,
      |  CAST(greatest((strlen(text) + 63) // 64, 1) AS BIGINT) AS height,
      |  FALSE AS has_alpha, CAST(0 AS BIGINT) AS version,
      |  TRUE AS size_ok
      |FROM documents ORDER BY asset_id""".stripMargin

  // ---------------------------------------------------------------- WARC

  private val WarcVer = "WARC/1.0\r\n"
  private val WarcType = "WARC-Type: response\r\n"
  private val WarcIdPre = "WARC-Record-ID: urn:graft:doc-"
  private val WarcUriPre = "WARC-Target-URI: http://graft.example/doc/"
  private val WarcClenPre = "Content-Length: "

  /** WARC record synthesis + DECLARATIVE parse — the format the web
    * corpora LLMs train on actually ship in (Common Crawl is WARC).
    * The 16 djb2 shards each become one WARC file (records concatenated
    * in doc_id order — the q33 sorted-collect discipline makes the
    * file bytes shuffle-order-proof), then the PARSE side recovers
    * every record from the file text alone: split on the `WARC/1.0`
    * record marker, header fields via anchored regexp, payload by the
    * blank-line delimiter, and each record's BYTE OFFSET into its
    * shard file by a per-shard running sum of record lengths — the
    * random-access index a 100 TB WARC store is read through (fetch
    * one document = seek(offset), never scan the shard). The
    * `length_ok` flag re-verifies the parsed Content-Length header
    * against the actual payload octets (the q21 self-certifying
    * pattern: the oracle pins TRUE, so a parse that misaligns by one
    * byte fails the gate). Scale shape: record-marker framing makes
    * WARC splittable the way newlines make text splittable; the parse
    * itself is codegen'd string ops, no UDF. PRECONDITION, stated
    * honestly: marker-split framing assumes payloads don't contain the
    * literal `WARC/1.0\r\n` bytes (true for this corpus, which has no
    * CR/LF at all — and length_ok flips false on any violated record,
    * so the assumption is CHECKED, not trusted). A production reader
    * over adversarial payloads length-frames sequentially from each
    * Content-Length instead — per-split from the synchronization
    * offsets this very index provides. */
  def warcRecords(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    val idStr = col("doc_id").cast("string")
    val clenStr = octet_length(col("text")).cast("string")
    val rec = concat(
      lit(WarcVer), lit(WarcType),
      lit(WarcIdPre), idStr, lit("\r\n"),
      lit(WarcUriPre), idStr, lit("\r\n"),
      lit(WarcClenPre), clenStr, lit("\r\n"), lit("\r\n"),
      col("text"), lit("\r\n\r\n"))
    val files = Tables.documents(s, d)
      .select(bucket.as("shard"), col("doc_id"), rec.as("rec"))
      .groupBy("shard")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id"), col("rec")))),
        x => x.getField("rec")), "").as("warc"))
    val parts = files
      .select(col("shard"), posexplode(split(col("warc"), "WARC/1\\.0\r\n")).as(Seq("pos", "body")))
      .filter(length(col("body")) > 0)
      .withColumn("hstart", instr(col("body"), "\r\n\r\n"))
      .withColumn("payload",
        expr("substring(body, hstart + 4, length(body) - hstart - 7)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    parts
      .select(col("shard"), col("pos"),
        regexp_extract(col("body"), "WARC-Record-ID: urn:graft:doc-([0-9]+)", 1)
          .cast("long").as("doc_id"),
        regexp_extract(col("body"), "Content-Length: ([0-9]+)", 1)
          .cast("long").as("content_length"),
        md5(to_binary(col("payload"), lit("utf-8"))).as("payload_md5"),
        (octet_length(col("payload")).cast("long") ===
          regexp_extract(col("body"), "Content-Length: ([0-9]+)", 1).cast("long"))
          .as("length_ok"),
        (octet_length(col("body")) + lit(WarcVer.length)).cast("long").as("rec_len"))
      .withColumn("offset", coalesce(sum("rec_len").over(w), lit(0L)))
      .select(col("shard"), col("doc_id"), col("offset"), col("content_length"),
        col("payload_md5"), col("length_ok"))
      .orderBy("shard", "doc_id")
  }

  /** SQL twin: record lengths are ARITHMETIC (fixed header octets +
    * twice the id's digits + the length field's digits + the payload),
    * so the offset index replays without parsing any bytes. */
  val warcRecordsSql: String = {
    val fixed = WarcVer.length + WarcType.length +
      WarcIdPre.length + 2 + WarcUriPre.length + 2 +
      WarcClenPre.length + 2 + 2 + 4
    s"""WITH b AS (
      |  SELECT doc_id, text,
      |    CAST(${OracleCtes.djb2Sql("CAST(doc_id AS VARCHAR)")} % 16 AS INT) AS shard
      |  FROM documents
      |), r AS (
      |  SELECT shard, doc_id, CAST(strlen(text) AS BIGINT) AS content_length,
      |    md5(text) AS payload_md5,
      |    CAST($fixed + 2*length(CAST(doc_id AS VARCHAR))
      |      + length(CAST(strlen(text) AS VARCHAR)) + strlen(text) AS BIGINT) AS rec_len
      |  FROM b
      |)
      |SELECT shard, doc_id,
      |  CAST(coalesce(sum(rec_len) OVER (PARTITION BY shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset",
      |  content_length, payload_md5, TRUE AS length_ok
      |FROM r ORDER BY shard, doc_id""".stripMargin
  }

  // ----------------------------------------------------------------- TAR

  /** One POSIX-ustar archive from ordered (name, payload) members:
    * 512-byte header (name NUL-padded, sizes/mtime in octal, checksum
    * computed with its own field as 8 spaces — the tar spec's
    * bootstrap), payload zero-padded to the 512 boundary, closed by
    * two zero blocks. Deterministic: fixed mode/uid/gid/mtime, so the
    * archive bytes are a pure function of the member list. */
  private[graft] def encodeTar(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, data) =>
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        System.arraycopy(b, 0, h, off, b.length)
      }
      put(0, name)
      put(100, "0000644"); put(108, "0000000"); put(116, "0000000")
      put(124, f"${data.length.toLong}%011o")
      put(136, "00000000000")
      h(156) = '0'.toByte
      put(257, "ustar"); h(263) = '0'.toByte; h(264) = '0'.toByte
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      val sum = h.map(_ & 0xff).sum
      put(148, f"$sum%06o"); h(154) = 0; h(155) = ' '.toByte
      out.write(h)
      out.write(data)
      out.write(new Array[Byte]((512 - data.length % 512) % 512))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** Sequential 512-block walk over one tar archive: per member
    * (name, data byte offset, size, checksum-verified flag, payload
    * md5). The checksum is RE-COMPUTED from the header bytes (field
    * as spaces) and compared to the stored octal — any corruption of
    * the header flips `cksum_ok` (the checksum covers all 512 bytes).
    * A corrupted SIZE field would mis-stride the walk, so `size` is
    * validated against the remaining archive length: an unparseable
    * or impossible size emits that member with `cksum_ok=false`
    * (size −1, empty-payload md5) and STOPS — every later offset
    * would be garbage, never an ArrayIndexOutOfBounds. */
  private[graft] def parseTar(
      tar: Array[Byte]): Seq[(String, Long, Long, Boolean, String)] = {
    val res = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Boolean, String)]
    var off = 0
    var done = false
    while (!done && off + 512 <= tar.length) {
      val h = java.util.Arrays.copyOfRange(tar, off, off + 512)
      if (h.forall(_ == 0)) done = true // end-of-archive zero block
      else {
        val nameEnd = { val i = h.indexOf(0.toByte); if (i < 0 || i > 100) 100 else i }
        val name = new String(h, 0, nameEnd, java.nio.charset.StandardCharsets.US_ASCII)
        def octal(o: Int, len: Int): Long = {
          val s = new String(h, o, len, java.nio.charset.StandardCharsets.US_ASCII)
            .takeWhile(c => c >= '0' && c <= '7')
          if (s.isEmpty) -1L else java.lang.Long.parseLong(s, 8)
        }
        val size = octal(124, 12)
        val stored = octal(148, 8)
        java.util.Arrays.fill(h, 148, 156, ' '.toByte)
        val ok = h.map(_ & 0xff).sum.toLong == stored
        val remaining = tar.length - (off + 512L)
        if (size < 0 || size > remaining) {
          // impossible size: checksum (computed over the full header)
          // is necessarily broken too; report and stop the walk
          val md5hex = java.security.MessageDigest.getInstance("MD5")
            .digest(Array.emptyByteArray).map(b => f"$b%02x").mkString
          res += ((name, off + 512L, -1L, false, md5hex))
          done = true
        } else {
          val payload = java.util.Arrays.copyOfRange(tar, off + 512, off + 512 + size.toInt)
          val md5hex = java.security.MessageDigest.getInstance("MD5")
            .digest(payload).map(b => f"$b%02x").mkString
          res += ((name, off + 512L, size, ok, md5hex))
          off += 512 + (((size + 511) / 512) * 512).toInt
        }
      }
    }
    res.toSeq
  }

  // ------------------------------------------------------------- TFRECORD

  /** TFRecord framing constants: crc32c masked per the TensorFlow
    * spec — mask(c) = ((c >>> 15) | (c << 17)) + 0xa282ead8, uint32. */
  private def maskedCrc32c(bytes: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32C(); c.update(bytes)
    val v = c.getValue // uint32 in a long
    (((v >>> 15) | (v << 17)) + 0xa282ead8L) & 0xffffffffL
  }

  /** One TFRecord file from ordered payloads: per record an 8-byte LE
    * length, 4-byte masked crc32c OF THE LENGTH BYTES, the payload,
    * and a 4-byte masked crc32c of the payload. */
  private[graft] def encodeTfRecord(payloads: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    payloads.foreach { p =>
      val lenB = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(p.length.toLong).array()
      def crcB(b: Array[Byte]): Array[Byte] = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(maskedCrc32c(b).toInt).array()
      out.write(lenB); out.write(crcB(lenB)); out.write(p); out.write(crcB(p))
    }
    out.toByteArray
  }

  /** Sequential TFRecord walk: per record (index, payload byte offset,
    * length, length-crc ok, data-crc ok, payload md5). */
  private[graft] def parseTfRecord(
      tf: Array[Byte]): Seq[(Int, Long, Long, Boolean, Boolean, String)] = {
    val bb = java.nio.ByteBuffer.wrap(tf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val res = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Boolean, Boolean, String)]
    var off = 0; var i = 0
    while (off + 16 <= tf.length) {
      val len = bb.getLong(off)
      val lenB = java.util.Arrays.copyOfRange(tf, off, off + 8)
      val lenCrcOk = (bb.getInt(off + 8) & 0xffffffffL) == maskedCrc32c(lenB)
      val payload = java.util.Arrays.copyOfRange(tf, off + 12, off + 12 + len.toInt)
      val dataCrcOk = (bb.getInt(off + 12 + len.toInt) & 0xffffffffL) == maskedCrc32c(payload)
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(payload).map(b => f"$b%02x").mkString
      res += ((i, off + 12L, len, lenCrcOk, dataCrcOk, md5hex))
      off += 16 + len.toInt; i += 1
    }
    res.toSeq
  }

  /** TFRECORD SHARD INDEX — TensorFlow's training-data container, the
    * third archive family beside tar (WebDataset) and zip: length-
    * prefixed records with MASKED CRC-32C over both the length frame
    * and the payload (the spec's double-checksum, which catches a
    * truncated frame — a plain payload checksum cannot tell "short
    * payload" from "short file"). Shards built in doc_id order, the
    * walk re-verifies BOTH checksums per record (`len_crc_ok` /
    * `data_crc_ok`, oracle-pinned TRUE — JDK CRC32C + the TF mask
    * formula), and `payload_md5` must match the oracle's md5 of the
    * source text. Offsets replay arithmetically: record i starts at
    * Σ_{j<i} (16 + len_j), data at +12 — TFRecord is a SCAN format
    * (no central index; the offset table this query emits IS the
    * random-access index a loader builds once and keeps). */
  /** Protobuf wire-format encode for [[varintParse]]: field 1 (varint)
    * = doc_id, field 2 (varint) = n_chars, field 3 (length-delimited)
    * = lang utf-8 — the tf.Example-shaped payload that actually sits
    * inside TFRecord frames ([[tfrecordIndex]] certifies the framing;
    * this certifies the payload wire format). Tag byte = (field « 3) |
    * wire_type; varints are little-endian base-128 with MSB
    * continuation. */
  private[graft] def encodeVarintMsg(docId: Long, nChars: Long, lang: String): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def vint(v0: Long): Unit = {
      var v = v0
      do {
        val b = (v & 0x7f).toInt; v = v >>> 7
        out += (if (v != 0) b | 0x80 else b).toByte
      } while (v != 0)
    }
    out += 0x08; vint(docId)
    out += 0x10; vint(nChars)
    val lb = lang.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out += 0x1A.toByte; vint(lb.length.toLong)
    out ++= lb
    out.toArray
  }

  /** PROTOBUF VARINT DECODE as a declarative byte state machine — the
    * fold form of every protobuf decoder's inner loop, over
    * [[encodeVarintMsg]] payloads: `aggregate(sequence(1, len), state,
    * step)` consumes ONE byte per step through a (mode, field,
    * wire_type, accumulator, shift) state struct — tag byte → varint
    * accumulation (base-128, MSB continuation) → value commit (wire
    * type 0) or length-delimited skip with recorded offsets (wire type
    * 2, the string field extracted afterwards by substring at the
    * recorded position). GENERIC decoding, not offset peeking: the
    * varint widths are data-dependent and the machine discovers them.
    * Fully codegen'd, map-only; `valid` pins the machine parked in
    * tag-expect mode at end-of-bytes with all three fields seen. Why
    * it matters: tf.Example protos inside TFRecord shards are THE
    * training-example container, and at 100 TB the payload decode must
    * live next to the scan, not in a driver library. */
  def varintParse(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fields = Seq("mode", "fld", "wt", "acc", "shift", "skip", "f1", "f2", "f3pos", "f3len")
    def st(vals: Column*): Column = struct(vals.zip(fields).map { case (v, f) => v.as(f) }: _*)
    val none = lit(-1L)
    val zero = st(lit(0), lit(0), lit(0), lit(0L), lit(0), lit(0L), none, none, none, none)
    val step = { (a: Column, i: Column) =>
      val b = uint(i, 1, LE)
      val v = a("acc") + (b % 128) * call_function("shiftleft", lit(1L), a("shift"))
      when(a("mode") === 0, st(lit(1), shiftright(b, 3).cast("int"), (b % 8).cast("int"),
          lit(0L), lit(0), a("skip"), a("f1"), a("f2"), a("f3pos"), a("f3len")))
        .when(a("mode") === 1 && b >= 128, st(lit(1), a("fld"), a("wt"), v, a("shift") + 7,
          a("skip"), a("f1"), a("f2"), a("f3pos"), a("f3len")))
        .when(a("mode") === 1 && a("wt") === 0, st(lit(0), lit(0), lit(0), lit(0L), lit(0),
          a("skip"), when(a("fld") === 1, v).otherwise(a("f1")),
          when(a("fld") === 2, v).otherwise(a("f2")), a("f3pos"), a("f3len")))
        .when(a("mode") === 1, st(when(v === 0, 0).otherwise(3), lit(0), lit(0), lit(0L),
          lit(0), v, a("f1"), a("f2"), (i + 1).cast("long"), v))
        .otherwise(st(when(a("skip") === 1, 0).otherwise(3), lit(0), lit(0), lit(0L), lit(0),
          a("skip") - 1, a("f1"), a("f2"), a("f3pos"), a("f3len")))
    }
    docs(s, d)
      .select(col("doc_id"), col("n_chars"), col("lang"))
      .as[(Long, Long, String)]
      .mapPartitions(_.map { case (id, nc, lang) =>
        (id, encodeVarintMsg(id, nc, lang)) })
      .toDF("asset_id", "media")
      .withColumn("m", aggregate(sequence(lit(1), length(col("media"))), zero, step))
      .select(col("asset_id"),
        col("m.f1").as("doc_id_pb"),
        col("m.f2").as("n_chars_pb"),
        col("media").substr(col("m.f3pos").cast("int"), col("m.f3len").cast("int"))
          .cast("string").as("lang_pb"),
        (col("m.mode") === 0 && col("m.f1") >= 0 && col("m.f2") >= 0 &&
          col("m.f3pos") > 0).as("valid"))
      .orderBy("asset_id")
  }

  val varintParseSql: String =
    """SELECT doc_id AS asset_id, doc_id AS doc_id_pb,
      |  CAST(n_chars AS BIGINT) AS n_chars_pb, lang AS lang_pb, TRUE AS valid
      |FROM documents ORDER BY asset_id""".stripMargin

  def tfrecordIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select((col("doc_id") % 4).cast("int").as("shard"), col("doc_id"), col("text"))
      .as[(Int, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val docs = it.toArray.sortBy(_._2)
        (shard, docs.map(_._2),
          encodeTfRecord(docs.toSeq.map(_._3.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))))
      }
      .flatMap { case (shard, ids, tf) =>
        parseTfRecord(tf).map { case (i, off, len, lok, dok, md5hex) =>
          (shard, ids(i), off, len, lok, dok, md5hex)
        }
      }
      .toDF("shard", "doc_id", "data_offset", "size_bytes",
        "len_crc_ok", "data_crc_ok", "payload_md5")
      .orderBy("shard", "doc_id")
  }

  /** SQL twin: window-cumulative (16 + size) frame arithmetic. */
  val tfrecordIndexSql: String =
    """WITH m AS (
      |  SELECT CAST(doc_id % 4 AS INT) AS shard, doc_id,
      |    CAST(strlen(text) AS BIGINT) AS size_bytes,
      |    md5(text) AS payload_md5
      |  FROM documents
      |)
      |SELECT shard, doc_id,
      |  CAST(coalesce(sum(16 + size_bytes) OVER (
      |    PARTITION BY shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 12 AS BIGINT)
      |    AS data_offset,
      |  size_bytes, TRUE AS len_crc_ok, TRUE AS data_crc_ok, payload_md5
      |FROM m ORDER BY shard, doc_id""".stripMargin

  // ----------------------------------------------------------------- NPY

  /** One NumPy `.npy` v1.0 file from a float32 vector: magic
    * `\x93NUMPY`, version 1.0, LE16 header length, the python-dict
    * header (`descr: '<f4'`, C order, 1-D shape) space-padded +
    * newline-terminated so the data section starts 64-byte aligned
    * (the spec's alignment rule), then the raw little-endian floats. */
  private[graft] def encodeNpy(v: Array[Float]): Array[Byte] = {
    val dict = s"{'descr': '<f4', 'fortran_order': False, 'shape': (${v.length},), }"
    val headerLen = {
      val base = 10 + dict.length + 1 // magic6 + ver2 + len2 + dict + \n
      val pad = (64 - base % 64) % 64
      dict.length + 1 + pad
    }
    val bb = java.nio.ByteBuffer.allocate(10 + headerLen + 4 * v.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0x93.toByte).put("NUMPY".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.put(1.toByte).put(0.toByte)
    bb.putShort(headerLen.toShort)
    bb.put(dict.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    (0 until headerLen - dict.length - 1).foreach(_ => bb.put(' '.toByte))
    bb.put('\n'.toByte)
    v.foreach(bb.putFloat)
    bb.array()
  }

  /** NPY TENSOR FILE parse — the format ML shops actually ship dense
    * tensors in (embedding dumps, activation caches, `np.save` output):
    * each embedding vector becomes one REAL `.npy` file (spec magic,
    * version, LE16 header length, python-dict header padded to the
    * 64-byte data alignment the spec mandates), and the parse side
    * recovers everything from the bytes alone — dtype and shape via
    * anchored regexes over the header dict, element count cross-checked
    * against the payload byte length, and the first/last float32
    * values read back through the little-endian payload (float→double
    * widening is exact, so the oracle pins them bit-level against the
    * source array). `aligned_ok` certifies the 64-byte data-offset
    * alignment — the property memory-mapped readers rely on. */
  def npyTensor(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        val npy = encodeNpy(v)
        val bb = java.nio.ByteBuffer.wrap(npy).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val magicOk = (npy(0) & 0xff) == 0x93 &&
          new String(npy, 1, 5, java.nio.charset.StandardCharsets.US_ASCII) == "NUMPY" &&
          npy(6) == 1.toByte
        val hlen = bb.getShort(8) & 0xffff
        val header = new String(npy, 10, hlen, java.nio.charset.StandardCharsets.US_ASCII)
        val dtype = "'descr': '([^']+)'".r.findFirstMatchIn(header).map(_.group(1)).getOrElse("?")
        val shape = "'shape': \\((\\d+),\\)".r.findFirstMatchIn(header)
          .map(_.group(1).toLong).getOrElse(-1L)
        val dataOff = 10 + hlen
        val nElems = (npy.length - dataOff) / 4L
        val first = bb.getFloat(dataOff).toDouble
        val last = bb.getFloat(npy.length - 4).toDouble
        (id, dtype, shape, nElems, dataOff.toLong, npy.length.toLong,
          magicOk && dataOff % 64 == 0, first, last)
      })
      .toDF("vec_id", "dtype", "shape_n", "n_elems", "data_offset",
        "total_bytes", "aligned_ok", "first_val", "last_val")
      .orderBy("vec_id")
  }

  /** Oracle: header arithmetic (dict length → 64-byte-aligned data
    * offset) + exact float32→double endpoint values from the source. */
  val npyTensorSql: String = {
    // dict string length replayed generically: data-dependent only
    // through the shape's digit count; chr(39) = the quote character
    s"""WITH e AS (
       |  SELECT vec_id, embedding, len(embedding) AS n,
       |    length('{' || chr(39) || 'descr' || chr(39) || ': ' || chr(39) || '<f4'
       |      || chr(39) || ', ' || chr(39) || 'fortran_order' || chr(39) || ': False, '
       |      || chr(39) || 'shape' || chr(39) || ': ('
       |      || CAST(len(embedding) AS VARCHAR) || ',), }') AS dictlen
       |  FROM embeddings
       |), h AS (
       |  SELECT vec_id, embedding, n, dictlen,
       |    CAST(10 + dictlen + 1 + (64 - (10 + dictlen + 1) % 64) % 64 AS BIGINT)
       |      AS data_offset
       |  FROM e
       |)
       |SELECT vec_id, '<f4' AS dtype, CAST(n AS BIGINT) AS shape_n,
       |  CAST(n AS BIGINT) AS n_elems, data_offset,
       |  CAST(data_offset + 4 * n AS BIGINT) AS total_bytes,
       |  TRUE AS aligned_ok,
       |  CAST(embedding[1] AS DOUBLE) AS first_val,
       |  CAST(embedding[n] AS DOUBLE) AS last_val
       |FROM h ORDER BY vec_id""".stripMargin
  }

  // ----------------------------------------------------------------- ZIP

  /** One STORED (uncompressed) ZIP archive from ordered (name, payload)
    * members, hand-rolled for byte determinism (library writers embed
    * host-local DOS timestamps): local header + data per member, then
    * the central directory, then the end-of-central-directory record.
    * Fixed version/flags/time fields; CRC-32 per member. */
  private[graft] def encodeZip(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    members.foreach { case (name, data) =>
      val crc = new java.util.zip.CRC32(); crc.update(data)
      val nb = name.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val off = out.size().toLong
      entries += ((name, off, data.length.toLong, crc.getValue))
      out.write(le32(0x04034b50L)); out.write(le16(20)); out.write(le16(0))
      out.write(le16(0)) // method 0 = STORED
      out.write(le16(0)); out.write(le16(0x21)) // fixed DOS time/date (1980-01-01)
      out.write(le32(crc.getValue))
      out.write(le32(data.length.toLong)); out.write(le32(data.length.toLong))
      out.write(le16(nb.length)); out.write(le16(0))
      out.write(nb); out.write(data)
    }
    val cdStart = out.size().toLong
    entries.foreach { case (name, off, size, crc) =>
      val nb = name.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(le32(0x02014b50L)); out.write(le16(20)); out.write(le16(20))
      out.write(le16(0)); out.write(le16(0))
      out.write(le16(0)); out.write(le16(0x21))
      out.write(le32(crc)); out.write(le32(size)); out.write(le32(size))
      out.write(le16(nb.length)); out.write(le16(0)); out.write(le16(0))
      out.write(le16(0)); out.write(le16(0)); out.write(le32(0L))
      out.write(le32(off)); out.write(nb)
    }
    val cdSize = out.size().toLong - cdStart
    out.write(le32(0x06054b50L)); out.write(le16(0)); out.write(le16(0))
    out.write(le16(entries.length)); out.write(le16(entries.length))
    out.write(le32(cdSize)); out.write(le32(cdStart)); out.write(le16(0))
    out.toByteArray
  }

  /** Parse a ZIP the way a real reader must: locate the EOCD record by
    * scanning BACKWARD from the tail for its signature (comments make
    * the fixed-offset shortcut unsound), jump to the central directory,
    * walk its entries, and verify each member by reading the payload at
    * its local-header offset and re-computing CRC-32 — per member
    * (name, data offset, size, crcOk, payloadMd5). */
  private[graft] def parseZip(
      zip: Array[Byte]): Seq[(String, Long, Long, Boolean, String)] = {
    def le16(o: Int): Int = (zip(o) & 0xff) | ((zip(o + 1) & 0xff) << 8)
    def le32(o: Int): Long = (zip(o) & 0xffL) | ((zip(o + 1) & 0xffL) << 8) |
      ((zip(o + 2) & 0xffL) << 16) | ((zip(o + 3) & 0xffL) << 24)
    var eocd = zip.length - 22
    while (eocd >= 0 && le32(eocd) != 0x06054b50L) eocd -= 1
    require(eocd >= 0, "no end-of-central-directory record")
    val n = le16(eocd + 10)
    var cd = le32(eocd + 16).toInt
    (0 until n).map { _ =>
      require(le32(cd) == 0x02014b50L, "bad central-directory signature")
      val crcStored = le32(cd + 16)
      val size = le32(cd + 24)
      val nameLen = le16(cd + 28); val extraLen = le16(cd + 30); val cmtLen = le16(cd + 32)
      val localOff = le32(cd + 42).toInt
      val name = new String(zip, cd + 46, nameLen, java.nio.charset.StandardCharsets.US_ASCII)
      val dataOff = localOff + 30 + le16(localOff + 26) + le16(localOff + 28)
      val payload = java.util.Arrays.copyOfRange(zip, dataOff, dataOff + size.toInt)
      val crc = new java.util.zip.CRC32(); crc.update(payload)
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(payload).map(b => f"$b%02x").mkString
      cd += 46 + nameLen + extraLen + cmtLen
      (name, dataOff.toLong, size, crc.getValue == crcStored, md5hex)
    }
  }

  /** ZIP SHARD INDEX — the tar index's random-access sibling, with the
    * structurally OPPOSITE parse: tar frames forward from byte 0 (a
    * scan format); zip's directory lives at the END (EOCD located by a
    * backward signature scan, then the central directory enumerates
    * members with their local-header offsets) — which is why a zip
    * reader over object storage issues a tail range-read first, the
    * access pattern this operator certifies. Members are STORED
    * (uncompressed) so offsets stay arithmetic for the oracle; per
    * member the parser seeks to the local offset, re-computes CRC-32
    * over the payload it finds there (`crc_ok` — a one-byte
    * misplacement flips it), and `payload_md5` must match the oracle's
    * md5 of the source text. Offsets replay as window-cumulative
    * (30 + namelen + size) sums per shard in doc_id order. */
  def zipIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select((col("doc_id") % 4).cast("int").as("shard"), col("doc_id"), col("text"))
      .as[(Int, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val members = it.toArray.sortBy(_._2).map { case (_, id, t) =>
          (f"doc$id%08d.txt", t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        (shard, encodeZip(members.toSeq))
      }
      .flatMap { case (shard, zip) =>
        parseZip(zip).map { case (name, off, size, ok, md5hex) =>
          (shard, name, off, size, ok, md5hex)
        }
      }
      .toDF("shard", "name", "data_offset", "size_bytes", "crc_ok", "payload_md5")
      .orderBy("shard", "name")
  }

  /** SQL twin: data offset of member i = Σ_{j<i} (30 + 15 + size_j) +
    * 30 + 15 (fixed 15-char names), cumulative per shard. */
  val zipIndexSql: String =
    """WITH m AS (
      |  SELECT CAST(doc_id % 4 AS INT) AS shard,
      |    printf('doc%08d.txt', doc_id) AS name,
      |    CAST(strlen(text) AS BIGINT) AS size_bytes,
      |    md5(text) AS payload_md5, doc_id
      |  FROM documents
      |)
      |SELECT shard, name,
      |  CAST(coalesce(sum(45 + size_bytes) OVER (
      |    PARTITION BY shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 45 AS BIGINT)
      |    AS data_offset,
      |  size_bytes, TRUE AS crc_ok, payload_md5
      |FROM m ORDER BY shard, name""".stripMargin

  /** TAR SHARD INDEX — the WebDataset layout LLM training loaders
    * actually stream (samples packed into tar shards, read
    * sequentially; random access via an external member index): 4
    * shards, each one REAL ustar archive assembled from its documents
    * in doc_id order (per-shard assembly in one task is the production
    * shape — WebDataset shards are sized ~1 GB precisely so one worker
    * owns one shard; the parallel unit is the shard, exactly like the
    * WARC files above). The parse side walks the 512-byte frames back
    * and emits the index a loader seeks through — member name, data
    * byte offset, size — plus two self-certifying columns: `cksum_ok`
    * re-verifies each header's checksum from its bytes, and
    * `payload_md5` must equal the oracle's md5 of the source text, so
    * a padding/offset error of even one byte goes red. The oracle
    * replays offsets ARITHMETICALLY (512-byte header + payload rounded
    * up, cumulative over the shard) — the index is a pure function of
    * member sizes, which is what makes tar seekable without a scan. */
  def tarIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select((col("doc_id") % 4).cast("int").as("shard"), col("doc_id"), col("text"))
      .as[(Int, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val members = it.toArray.sortBy(_._2).map { case (_, id, t) =>
          (f"doc$id%08d.txt", t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        (shard, encodeTar(members.toSeq))
      }
      .flatMap { case (shard, tar) =>
        parseTar(tar).map { case (name, off, size, ok, md5hex) =>
          (shard, name, off, size, ok, md5hex)
        }
      }
      .toDF("shard", "name", "data_offset", "size_bytes", "cksum_ok", "payload_md5")
      .orderBy("shard", "name")
  }

  /** SQL twin: offsets replay as window-cumulative header+payload block
    * arithmetic per shard in doc_id order (== name order, zero-padded). */
  val tarIndexSql: String =
    """WITH m AS (
      |  SELECT CAST(doc_id % 4 AS INT) AS shard,
      |    printf('doc%08d.txt', doc_id) AS name,
      |    CAST(strlen(text) AS BIGINT) AS size_bytes,
      |    md5(text) AS payload_md5, doc_id
      |  FROM documents
      |)
      |SELECT shard, name,
      |  CAST(coalesce(sum(512 + 512 * ((size_bytes + 511) // 512)) OVER (
      |    PARTITION BY shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 512 AS BIGINT)
      |    AS data_offset,
      |  size_bytes, TRUE AS cksum_ok, payload_md5
      |FROM m ORDER BY shard, name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m_tfrecord" -> (tfrecordIndex _),
    "m_varint" -> (varintParse _),
    "m_npy_tensor" -> (npyTensor _),
    "m_zip_index" -> (zipIndex _),
    "m_tar_index" -> (tarIndex _),
    "m_warc_records" -> (warcRecords _),
    "m_wav_meta" -> (wavMeta _),
    "m_flac_meta" -> (flacMeta _),
    "m_pdf_meta" -> (pdfMeta _),
    "m_webp_meta" -> (webpMeta _),
    "m_bmp_meta" -> (bmpMeta _),
    "m_zstd_frame" -> (zstdFrame _),
    "m_avro_ocf" -> (avroOcf _),
    "m_ebml_meta" -> (ebmlMeta _),
    "m_pcm_ulaw" -> (pcmUlaw _),
    "m_ogg_pages" -> (oggPages _),
    "m_ar_archive" -> (arMeta _),
    "m_wds_paired" -> (wdsPaired _),
    "m_id3_meta" -> (id3Meta _),
    "m_exif_scrub" -> (exifScrub _),
    "m_safetensors" -> (safetensors _),
    "m_phash" -> (phash _),
    "m_sniff" -> (sniff _),
    "m_cdc_chunks" -> (cdcChunks _),
    "m_binary_meta" -> (binaryMeta _),
    "m_frame_sample" -> (frameSample _),
    "m_dedup" -> (assetDedup _),
    "m_png_meta" -> (pngMeta _),
    "m_jpeg_meta" -> (jpegMeta _),
    "m_exif" -> (exifMeta _),
    "m_srt_parse" -> (srtParse _),
    "m_gif_meta" -> (gifMeta _),
    "m_tiff_meta" -> (tiffMeta _),
    "m_mp4_boxes" -> (mp4Boxes _),
    "m_mp3_frames" -> (mp3Frames _),
    "m_resize" -> (resize _),
    "m_frames_meta" -> (framesMeta _),
    "m_wav_energy" -> (wavEnergy _),
    "m_audio_resample" -> (audioResample _),
    "m_feature_extract" -> (featureExtract _))

  val oracles: Map[String, String] = Map(
    "m_tfrecord" -> tfrecordIndexSql,
    "m_varint" -> varintParseSql,
    "m_npy_tensor" -> npyTensorSql,
    "m_zip_index" -> zipIndexSql,
    "m_tar_index" -> tarIndexSql,
    "m_warc_records" -> warcRecordsSql,
    "m_wav_meta" -> wavMetaSql,
    "m_flac_meta" -> flacMetaSql,
    "m_pdf_meta" -> pdfMetaSql,
    "m_webp_meta" -> webpMetaSql,
    "m_bmp_meta" -> bmpMetaSql,
    "m_zstd_frame" -> zstdFrameSql,
    "m_avro_ocf" -> avroOcfSql,
    "m_ebml_meta" -> ebmlMetaSql,
    "m_pcm_ulaw" -> pcmUlawSql,
    "m_ogg_pages" -> oggPagesSql,
    "m_ar_archive" -> arMetaSql,
    "m_wds_paired" -> wdsPairedSql,
    "m_id3_meta" -> id3MetaSql,
    "m_exif_scrub" -> exifScrubSql,
    "m_safetensors" -> safetensorsSql,
    "m_phash" -> phashSql,
    "m_sniff" -> sniffSql,
    "m_cdc_chunks" -> cdcChunksSql,
    "m_binary_meta" -> binaryMetaSql,
    "m_frame_sample" -> frameSampleSql,
    "m_dedup" -> assetDedupSql,
    "m_png_meta" -> pngMetaSql,
    "m_jpeg_meta" -> jpegMetaSql,
    "m_exif" -> exifMetaSql,
    "m_srt_parse" -> srtParseSql,
    "m_gif_meta" -> gifMetaSql,
    "m_tiff_meta" -> tiffMetaSql,
    "m_mp4_boxes" -> mp4BoxesSql,
    "m_mp3_frames" -> mp3FramesSql,
    "m_resize" -> resizeSql,
    "m_frames_meta" -> framesMetaSql,
    "m_wav_energy" -> wavEnergySql,
    "m_audio_resample" -> audioResampleSql,
    "m_feature_extract" -> featureExtractSql)
}
