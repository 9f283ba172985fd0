package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads travel as opaque
  * `binary` columns with typed metadata; feature extraction runs
  * per-partition in fixed-size batches (the JVM analog of a
  * vectorized mapInPandas pipeline: one decode context per batch,
  * iterator in / iterator out, no driver involvement).
  *
  * The decode itself is a STUB — this container has no image/audio
  * codecs — implemented as a deterministic fake (dims derived from
  * the payload bytes) so the distributed plumbing (schema, encoder,
  * partitioning, batch shape) is real and testable end-to-end.
  */
object Multimodal {

  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(
      media_id: Long, n_bytes: Long, feat_width: Long, feat_height: Long, feat_hash: String)

  /** STUB codec: stands in for a real image/audio decoder. Output is
    * a pure deterministic function of the payload so oracle engines
    * can reproduce it.
    */
  object StubCodec {
    def decode(payload: Array[Byte]): (Long, Long, String) = {
      val n  = payload.length.toLong
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(payload).map("%02x".format(_)).mkString
      (16 + n % 64, 16 + (n * 7) % 64, hex)
    }
  }

  /** `fn(payload)` of every media row, as the struct column `decoded`
    * beside the id.
    */
  private def decode(media: DataFrame, fn: String, idCol: String, payloadCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(media.sparkSession)
    media.select(col(idCol), expr(s"$fn($payloadCol)").as("decoded"))
  }

  /** An image decoder's exact pixel moments as header fields plus
    * per-pixel means: channel means and luma are ONE IEEE division
    * over exact integer sums, null when the image has no pixels.
    */
  private def pixelMoments(media: DataFrame, fn: String, idCol: String, payloadCol: String): DataFrame = {
    val n = col("decoded.n_px")
    decode(media, fn, idCol, payloadCol)
      .select(col(idCol),
        col("decoded.valid").as("valid"),
        col("decoded.width").as("width"),
        col("decoded.height").as("height"),
        n.as("n_px"),
        when(n > 0, col("decoded.peak")).as("peak"),
        when(n > 0, col("decoded.sum_r").cast("double") / n.cast("double")).as("mean_r"),
        when(n > 0, col("decoded.sum_g").cast("double") / n.cast("double")).as("mean_g"),
        when(n > 0, col("decoded.sum_b").cast("double") / n.cast("double")).as("mean_b"),
        when(n > 0, col("decoded.sum_luma_milli").cast("double") / (n * 1000L).cast("double"))
          .as("mean_luma"))
  }

  /** Wrap text documents as fake media payloads (binary + metadata). */
  def mediaFromDocuments(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .select(
        col("doc_id").as("media_id"),
        col("source").as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** Batched per-partition feature extraction: `batchSize` records
    * share one (stub) decode context, mirroring how a real codec or
    * model would be amortized across a vectorized batch.
    */
  def extractFeatures(media: Dataset[MediaRecord], batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { iter =>
      iter.grouped(batchSize).flatMap { batch =>
        // one decode context per batch would be opened here
        batch.iterator.map { r =>
          val (w, h, hash) = StubCodec.decode(r.payload)
          MediaFeatures(r.media_id, r.payload.length.toLong, w, h, hash)
        }
      }
    }
  }

  /** Binary -> binary batch transform (image-resize analog): the
    * STUB "resample" takes every k-th byte to hit the target size —
    * deterministic, payload-derived; a real codec drops in at the
    * marked line with the same iterator shape.
    */
  def resize(media: Dataset[MediaRecord], targetBytes: Int, batchSize: Int = 64): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { iter =>
      iter.grouped(batchSize).flatMap { batch =>
        // one resize context per batch would be opened here
        batch.iterator.map { r =>
          val n   = r.payload.length
          val out = if (n <= targetBytes) r.payload
          else Array.tabulate(targetBytes)(i => r.payload((i.toLong * n / targetBytes).toInt))
          MediaRecord(r.media_id, r.kind, out)
        }
      }
    }
  }

  /** Wrap text documents as VALID RIFF/WAVE PCM16 mono payloads
    * (8 kHz, one sample per leading character: s_i = (c_i & 0x7f)·257
    * − 16384, the ASCII-derived deterministic waveform an oracle can
    * re-derive from the text without touching bytes). Unlike the
    * [[StubCodec]] fakes these are REAL media files — the JDK's own
    * javax.sound parser reads them (spec-asserted) — so the decode
    * stage downstream is genuine format parsing, not plumbing.
    */
  def wavFromDocuments(documents: DataFrame, maxSamples: Int = 96): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "wav", wavBytes(text, maxSamples))
    }
  }

  /** Minimal canonical-layout WAV writer (44-byte header + LE16 PCM). */
  private[graft] def wavBytes(text: String, maxSamples: Int): Array[Byte] = {
    val n  = math.min(maxSamples, text.length)
    val bb = java.nio.ByteBuffer.allocate(44 + 2 * n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(1)             // PCM, mono
    bb.putInt(8000).putInt(16000)          // sample rate, byte rate
    bb.putShort(2).putShort(16)            // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(2 * n)
    var i = 0
    while (i < n) {
      bb.putShort((((text.charAt(i) & 0x7f) * 257) - 16384).toShort)
      i += 1
    }
    bb.array()
  }

  /** Wrap text documents as VALID RIFF/WAVE ITU-T G.711 payloads
    * (8 kHz mono, format tag 7 = µ-law or 6 = A-law, one companded
    * code byte per sample): code byte i is m_i = ((c_i & 0x7f)·7 + i)
    * mod 256 over the text's leading characters — full 0..255 range,
    * so every sign/segment branch of the expander is exercised — and
    * the oracle re-derives the DECODED linear sample from the TEXT
    * through the published G.711 integer expansion, never seeing the
    * bytes. The JDK's own javax.sound ULAW/ALAW converters read
    * these (spec-asserted), so the payloads are real telephony
    * audio, not plumbing.
    */
  def g711FromDocuments(documents: DataFrame, law: String, maxSamples: Int = 96): Dataset[MediaRecord] = {
    require(law == "mulaw" || law == "alaw", s"law must be mulaw|alaw, got $law")
    val spark = documents.sparkSession
    import spark.implicits._
    val tag = if (law == "mulaw") 7 else 6
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, law, g711Bytes(text, maxSamples, tag))
    }
  }

  /** Minimal canonical non-PCM WAV writer: 18-byte fmt chunk
    * (cbSize=0) + fact chunk + data, the layout the WAVE spec
    * requires for compressed format tags.
    */
  private[graft] def g711Bytes(text: String, maxSamples: Int, fmtTag: Int): Array[Byte] = {
    val n  = math.min(maxSamples, text.length)
    val bb = java.nio.ByteBuffer.allocate(58 + n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(50 + n)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(18)
    bb.putShort(fmtTag.toShort).putShort(1)   // G.711, mono
    bb.putInt(8000).putInt(8000)              // sample rate, byte rate
    bb.putShort(1).putShort(8)                // block align, bits
    bb.putShort(0)                            // cbSize
    bb.put("fact".getBytes("US-ASCII")).putInt(4).putInt(n)
    bb.put("data".getBytes("US-ASCII")).putInt(n)
    var i = 0
    while (i < n) {
      bb.put((((text.charAt(i) & 0x7f) * 7 + i) % 256).toByte)
      i += 1
    }
    bb.array()
  }

  /** REAL (non-stub) COMPRESSED-audio decode: strict RIFF/WAVE
    * non-PCM layout parse (fmt-18 + fact + data) + ITU-T G.711
    * µ-law/A-law expansion + exact integer sample moments via the
    * codegen'd `graft_g711_stats` kernel — one linear
    * pass per payload in the scan stage. The first compressed AUDIO
    * format past the declared stub line: the companding tables are
    * implemented in-repo from the published integer recipe, and the
    * oracle re-derives every decoded sample bitwise in SQL, so the
    * decode math itself (not just the container) is oracle-checked.
    * Malformed payloads report valid=false.
    */
  def g711Stats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    val n = col("decoded.n_samples")
    decode(media, "graft_g711_stats", idCol, payloadCol)
      .select(col(idCol),
        col("decoded.valid").as("valid"),
        col("decoded.fmt_tag").as("fmt_tag"),
        col("decoded.sample_rate").as("sample_rate"),
        n.as("n_samples"),
        when(n > 0, col("decoded.peak_abs")).as("peak_abs"),
        when(n > 0, col("decoded.sum_s").cast("double") / n.cast("double")).as("mean_sample"),
        when(n > 0, sqrt(col("decoded.sum_sq").cast("double") / n.cast("double"))).as("rms"))
  }

  /** Wrap text documents as VALID uncompressed 24 bpp BMP images
    * (7x4 px — the odd width forces a 3-byte row pad, the classic
    * decode bug): pixel (x, y) top-down takes channel values
    * r,g,b = (c_j & 0x7f) for j = 3·(y·7+x)+ch cycled over the text's
    * leading characters, so an oracle re-derives every pixel from
    * the TEXT while the bytes on disk are bottom-up BGR with padded
    * rows. The JDK's ImageIO reads these (spec-asserted).
    */
  def bmpFromDocuments(documents: DataFrame, maxChars: Int = 96): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "bmp", bmpBytes(text, maxChars))
    }
  }

  /** Minimal canonical 24 bpp bottom-up BMP writer (54-byte header). */
  private[graft] def bmpBytes(text: String, maxChars: Int): Array[Byte] = {
    val (w, h) = (7, 4)
    val l      = math.min(maxChars, text.length)
    val stride = ((w * 3 + 3) / 4) * 4
    val size   = 54 + stride * h
    val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(size)
      .putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    def ch(j: Int): Byte = if (l == 0) 0 else (text.charAt(j % l) & 0x7f).toByte
    var yDisk = 0
    while (yDisk < h) {
      val y = h - 1 - yDisk // disk rows are bottom-up
      var x = 0
      while (x < w) {
        val j = 3 * (y * w + x)
        bb.put(ch(j + 2)).put(ch(j + 1)).put(ch(j)) // BGR on disk
        x += 1
      }
      var p = w * 3
      while (p < stride) { bb.put(0.toByte); p += 1 }
      yDisk += 1
    }
    bb.array()
  }

  /** Wrap text documents as VALID compressed PNG images (7x5 px,
    * RGB8 truecolor, non-interlaced): pixel (x, y) top-down takes
    * channel values r,g,b = (c_j & 0x7f) for j = 3·(y·7+x)+ch cycled
    * over the text's leading characters — the same pixel rule as the
    * BMP twin (over 35 px instead of 28), so an oracle re-derives
    * every pixel from the TEXT. Row y is filtered with type y % 5,
    * so every image exercises ALL FIVE PNG filters (None/Sub/Up/
    * Average/Paeth) before zlib compression — a decoder with any
    * defilter wrong cannot agree. The JDK's ImageIO reads these
    * (spec-asserted).
    */
  def pngFromDocuments(documents: DataFrame, maxChars: Int = 105): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "png", pngBytes(text, maxChars))
    }
  }

  /** Minimal canonical PNG writer: signature + IHDR + one IDAT
    * (zlib via java.util.zip.Deflater over per-row-filtered
    * scanlines, filter type y % 5) + IEND, CRC-32 per chunk.
    */
  private[graft] def pngBytes(text: String, maxChars: Int): Array[Byte] = {
    val (w, h) = (7, 5)
    val l      = math.min(maxChars, text.length)
    def ch(j: Int): Int = if (l == 0) 0 else text.charAt(j % l) & 0x7f
    // raw scanlines, top-down RGB
    val rowBytes = 3 * w
    val raw = Array.tabulate(h, rowBytes) { (y, x) => ch(3 * (y * w) + x).toByte }
    // filtered stream: 1 filter-type byte + filtered row, type y % 5
    val filt = new Array[Byte](h * (1 + rowBytes))
    var y = 0
    while (y < h) {
      val ft = y % 5
      filt(y * (1 + rowBytes)) = ft.toByte
      var x = 0
      while (x < rowBytes) {
        val cur = raw(y)(x) & 0xff
        val a   = if (x >= 3) raw(y)(x - 3) & 0xff else 0
        val b   = if (y > 0) raw(y - 1)(x) & 0xff else 0
        val c   = if (x >= 3 && y > 0) raw(y - 1)(x - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case _ =>
            val p  = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        filt(y * (1 + rowBytes) + 1 + x) = (cur - pred).toByte
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filt)
    defl.finish()
    val zBuf = new Array[Byte](filt.length + 64)
    var zLen = 0
    while (!defl.finished()) zLen += defl.deflate(zBuf, zLen, zBuf.length - zLen)
    defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Int](0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte], dataLen: Int): Unit = {
      val bb = java.nio.ByteBuffer.allocate(12 + dataLen)
      bb.putInt(dataLen).put(typ.getBytes("US-ASCII")).put(data, 0, dataLen)
      val crc = new java.util.zip.CRC32()
      crc.update(bb.array(), 4, 4 + dataLen)
      bb.putInt(crc.getValue.toInt)
      out.write(bb.array(), 0, 12 + dataLen)
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
    chunk("IHDR", ihdr.array(), 13)
    chunk("IDAT", zBuf, zLen)
    chunk("IEND", Array.emptyByteArray, 0)
    out.toByteArray
  }

  /** REAL (non-stub) compressed-image decode: strict PNG (RGB8,
    * non-interlaced) container parse + CRC verification + JDK zlib
    * inflate + all-five-filter scanline reconstruction + exact
    * integer pixel moments via the codegen'd
    * `graft_png_stats` kernel — one pass per payload
    * in the scan stage. The first COMPRESSED format past the
    * declared stub line (the zlib layer is java.util.zip.Inflater;
    * everything PNG-specific is implemented, not imported). Channel
    * means and luma are ONE IEEE division over exact integer sums.
    * Malformed payloads report valid=false.
    */
  def pngStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    pixelMoments(media, "graft_png_stats", idCol, payloadCol)

  /** Wrap text documents as VALID baseline JPEGs (grayscale, 64 px
    * wide): one 8x8 block per leading character, each block UNIFORM
    * gray v_j = ((c_j & 0x7f)*7 + j) % 256, rows padded to 8 blocks
    * with v=128. With an all-ones quantization table a flat block's
    * only nonzero coefficient is DC = 8*(v-128) — an INTEGER — so
    * the quantizer drops nothing and the decode is bit-exact: the
    * oracle re-derives every pixel from TEXT through the same rule,
    * while the bytes on disk are real entropy-coded JPEG (Annex K DC
    * Huffman table, per-block DC prediction, byte stuffing). The
    * JDK's ImageIO reads these to the same pixels (spec-asserted).
    */
  def jpegFromDocuments(documents: DataFrame, maxChars: Int = 64): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "jpeg", jpegBytes(text, maxChars))
    }
  }

  /** Minimal-but-conformant baseline JPEG writer (ITU T.81): SOI,
    * DQT (all-ones table), SOF0 (8-bit grayscale, 1x1 sampling),
    * DHT (Annex K luminance DC table + a minimal one-code AC table
    * whose single symbol is EOB), SOS, entropy-coded flat blocks
    * (DC difference category + value bits, EOB, 0xFF byte
    * stuffing, 1-padded final byte), EOI.
    */
  private[graft] def jpegBytes(text: String, maxChars: Int): Array[Byte] = {
    val l  = math.min(maxChars, text.length)
    val nb = math.max(8, ((l + 7) / 8) * 8) // blocks, full rows of 8
    val w  = 64
    val h  = nb // nb/8 block-rows, 8 px each
    def v(j: Int): Int = if (j < l) ((text.charAt(j) & 0x7f) * 7 + j) % 256 else 128
    val out = new java.io.ByteArrayOutputStream()
    def b(x: Int): Unit = out.write(x & 0xff)
    def be16(x: Int): Unit = { b(x >> 8); b(x) }
    b(0xff); b(0xd8)                                    // SOI
    b(0xff); b(0xdb); be16(67); b(0x00)                 // DQT, 8-bit table 0
    (0 until 64).foreach(_ => b(1))
    b(0xff); b(0xc0); be16(11)                          // SOF0
    b(8); be16(h); be16(w); b(1); b(1); b(0x11); b(0)
    val dcBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0) // 1..16
    b(0xff); b(0xc4); be16(2 + 29 + 18)                 // DHT: DC0 + AC0
    b(0x00); (1 to 16).foreach(i => b(dcBits(i))); (0 to 11).foreach(b)
    b(0x10); b(1); (2 to 16).foreach(_ => b(0)); b(0x00)
    b(0xff); b(0xda); be16(8)                           // SOS
    b(1); b(1); b(0x00); b(0); b(63); b(0)
    // canonical DC codes (T.81 C.2), category order
    val dcLen  = new Array[Int](12)
    val dcCode = new Array[Int](12)
    var code = 0; var k = 0; var ln = 1
    while (ln <= 16) {
      var c = 0
      while (c < dcBits(ln)) { dcLen(k) = ln; dcCode(k) = code; code += 1; k += 1; c += 1 }
      code <<= 1; ln += 1
    }
    var acc = 0; var nbits = 0
    def putBits(value: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((value >>> i) & 1); nbits += 1
        if (nbits == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    var pred = 0
    var j = 0
    while (j < nb) {
      val s    = 8 * (v(j) - 128) // the exact DC of a flat block at Q=1
      val diff = s - pred
      pred = s
      val cat = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      putBits(dcCode(cat), dcLen(cat))
      if (cat > 0) putBits(if (diff >= 0) diff else diff + (1 << cat) - 1, cat)
      putBits(0, 1) // EOB: the minimal AC table's single 1-bit code
      j += 1
    }
    if (nbits > 0) putBits((1 << (8 - nbits)) - 1, 8 - nbits) // 1-pad to byte
    b(0xff); b(0xd9)                                    // EOI
    out.toByteArray
  }

  /** REAL (non-stub) lossy-format decode: full baseline-JPEG
    * entropy decode + dequantization + IDCT + color convert and
    * exact integer pixel moments via the codegen'd
    * `graft_jpeg_stats` kernel — one pass per
    * payload in the scan stage. The generated corpus is flat-block
    * grayscale at an all-ones quantizer, which makes the usually-
    * lossy format LOSSLESS here (DC-only blocks reconstruct
    * exactly), so the oracle stays text-derived and bit-exact while
    * the decoder exercises the real coding layers (Huffman, DC
    * prediction, byte stuffing, IDCT). Malformed payloads report
    * valid=false.
    */
  def jpegStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    pixelMoments(media, "graft_jpeg_stats", idCol, payloadCol)

  /** Wrap text documents as VALID ZIP archives, two deflated entries
    * per document ("a.txt" = the first half of the leading
    * `maxChars` characters, "b.txt" = the rest). The encoder is the
    * JDK's own ZipOutputStream — an INDEPENDENT writer that uses
    * streaming mode (general-purpose bit 3: zeroed local sizes, data
    * descriptors after the data), so a decoder that trusts local
    * headers instead of the central directory cannot read these at
    * all. The oracle re-derives entry count, sizes, and the content
    * byte-sum from the TEXT, never seeing the archive bytes.
    */
  def zipFromDocuments(documents: DataFrame, maxChars: Int = 256): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "zip", zipBytes(text, maxChars))
    }
  }

  /** Two-entry ZIP via the JDK writer; fixed timestamps keep the
    * payload bytes run-independent.
    */
  private[graft] def zipBytes(text: String, maxChars: Int): Array[Byte] = {
    val n    = math.min(maxChars, text.length)
    val half = n / 2
    val bos  = new java.io.ByteArrayOutputStream()
    val zos  = new java.util.zip.ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L)
      zos.putNextEntry(e)
      zos.write(content.getBytes("US-ASCII"))
      zos.closeEntry()
    }
    put("a.txt", text.substring(0, half))
    put("b.txt", text.substring(half, n))
    zos.close()
    bos.toByteArray
  }

  /** REAL (non-stub) archive-container decode: strict ZIP parse
    * (EOCD backward scan, central-directory walk with exact framing,
    * local-header indirection, streaming-mode bit-3 correctness) +
    * stored/deflate entry decompression + per-entry CRC-32
    * verification via the codegen'd `graft_zip_stats` kernel
    * expression — one pass per payload in the scan stage. Archive
    * ingest is the first step of every corpus pipeline whose
    * upstream delivers zipped shards; the decode is oracle-checked
    * through text-derived entry sizes and content byte-sums.
    * Malformed payloads (bad framing, lying sizes, CRC mismatches,
    * zip-bomb dimensions) report valid=false.
    */
  def zipStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_zip_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as UTF-8 payloads with REAL multi-byte
    * content: each of the leading `maxChars` characters maps to a
    * codepoint by a fixed SQL-replicable rule — vowels to U+0100+c
    * (2-byte), digits to U+2000+c (3-byte), uppercase to U+10000+c
    * (4-byte, astral plane), everything else stays ASCII — and the
    * JDK's own charset encoder (an INDEPENDENT implementation)
    * writes the bytes. The oracle re-derives every class count and
    * the max codepoint from the TEXT through the same rule, so a
    * continuation/overlong/length bug in the validator cannot agree.
    */
  def utf8FromDocuments(documents: DataFrame, maxChars: Int = 200): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "utf8", utf8Bytes(text, maxChars))
    }
  }

  /** Codepoint-mapping rule + JDK UTF-8 encoder. Classification is
    * on the RAW character — the same test the SQL oracle applies —
    * so a non-ASCII corpus character can never alias into the vowel/
    * digit/uppercase buckets via low-bit collision (U+00E1 is NOT
    * 'a'); it passes through as its own codepoint, and the oracle's
    * ELSE branch sizes it by the UTF-8 length of that codepoint.
    * PRECONDITION (same as the zip twin): the corpus is BMP text
    * with no surrogate pairs — `charAt` walks UTF-16 units, so a
    * supplementary character would be seen as two surrogates and
    * rejected by the strict decoder downstream.
    */
  private[graft] def utf8Bytes(text: String, maxChars: Int): Array[Byte] = {
    val n  = math.min(maxChars, text.length)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      val cp =
        if (c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u') 0x0100 + c
        else if (c >= '0' && c <= '9') 0x2000 + c
        else if (c >= 'A' && c <= 'Z') 0x10000 + c
        else c.toInt
      sb.appendCodePoint(cp)
      i += 1
    }
    sb.toString.getBytes("UTF-8")
  }

  /** STRICT UTF-8 validation + codepoint census — the first gate of
    * every text-ingest pipeline: mojibake, truncated multi-byte
    * tails, overlongs, and surrogates must be caught before any
    * tokenizer sees the bytes. RFC 3629 rules implemented in the
    * codegen'd `graft_utf8_stats` kernel, one linear
    * pass per payload in the scan stage. Malformed payloads report
    * valid=false.
    */
  def utf8Stats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_utf8_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as Base64 payloads of their leading
    * `maxChars` characters, written by the JDK's own encoder — an
    * INDEPENDENT RFC 4648 implementation for the strict in-repo
    * decoder to be judged against.
    */
  def base64FromDocuments(documents: DataFrame, maxChars: Int = 256): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val n = math.min(maxChars, text.length)
      MediaRecord(id, "b64",
        java.util.Base64.getEncoder.encode(text.substring(0, n).getBytes("US-ASCII")))
    }
  }

  /** STRICT RFC 4648 Base64 decode (standard alphabet, canonical
    * padding, no trailing data) + exact byte moments via the
    * codegen'd `graft_b64_stats` kernel — one linear
    * pass per payload in the scan stage. Base64-wrapped fields are
    * everywhere in crawled/exported data (JSON blobs, data URIs,
    * message envelopes); strictness matters because sloppy decoders
    * accept non-canonical padding and alias distinct payloads.
    * Malformed payloads report valid=false.
    */
  def base64Stats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_b64_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as BOM-prefixed UTF-16 of the SAME mapped
    * codepoints as the UTF-8 twin (vowels → U+0100+c, digits →
    * U+2000+c, uppercase → ASTRAL U+10000+c — the astral class is
    * what forces real surrogate PAIRS onto the wire), written by the
    * JDK's own charset encoder (independent). Endianness cycles with
    * doc_id (even = big-endian FE FF, odd = little-endian FF FE) so
    * the corpus exercises BOTH byte orders while the stats — and
    * therefore the oracle — are endianness-invariant.
    */
  def utf16FromDocuments(documents: DataFrame, maxChars: Int = 200): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "utf16", utf16Bytes(text, maxChars, le = id % 2 == 1))
    }
  }

  /** Codepoint-mapping rule (identical to [[utf8Bytes]]) + JDK
    * UTF-16 encoder + explicit BOM. Same ASCII-corpus precondition
    * as the UTF-8 twin.
    */
  private[graft] def utf16Bytes(text: String, maxChars: Int, le: Boolean): Array[Byte] = {
    val n  = math.min(maxChars, text.length)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      val cp =
        if (c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u') 0x0100 + c
        else if (c >= '0' && c <= '9') 0x2000 + c
        else if (c >= 'A' && c <= 'Z') 0x10000 + c
        else c.toInt
      sb.appendCodePoint(cp)
      i += 1
    }
    val body = sb.toString.getBytes(if (le) "UTF-16LE" else "UTF-16BE")
    val out  = new Array[Byte](body.length + 2)
    if (le) { out(0) = 0xff.toByte; out(1) = 0xfe.toByte }
    else { out(0) = 0xfe.toByte; out(1) = 0xff.toByte }
    System.arraycopy(body, 0, out, 2, body.length)
    out
  }

  /** STRICT UTF-16 validation + codepoint census — the wide-char
    * sibling of [[utf8Stats]]: required BOM (mojibake guard),
    * surrogate-pair enforcement, stray-low rejection, via the
    * codegen'd `graft_utf16_stats` kernel, one linear
    * pass per payload in the scan stage. UTF-16 shows up in crawled
    * data wherever Windows/Java systems exported text; a validator
    * that misses unpaired surrogates poisons every downstream
    * transcode. Malformed payloads report valid=false.
    */
  def utf16Stats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_utf16_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as RFC 3492 Punycode `xn--` labels over the
    * SAME mapped codepoints as the UTF-8/UTF-16 twins — the encoder
    * is the in-repo §6.3 algorithm
    * ([[graft.plans.GraftHashOps.punycodeEncode]], spec-checked
    * against the JDK's IDN/IDNA encoder and the RFC's own sample
    * strings). Punycode is how internationalized domain names reach
    * DNS — URL/domain columns in crawled corpora are full of it, and
    * a non-strict decoder aliases distinct labels.
    */
  def punycodeFromDocuments(documents: DataFrame, maxChars: Int = 128): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "puny", punycodeBytes(text, maxChars))
    }
  }

  /** Codepoint-mapping rule (identical to [[utf8Bytes]]) + in-repo
    * RFC 3492 encode, `xn--`-prefixed ASCII bytes.
    */
  private[graft] def punycodeBytes(text: String, maxChars: Int): Array[Byte] = {
    val n   = math.min(maxChars, text.length)
    val cps = new Array[Int](n)
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      cps(i) =
        if (c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u') 0x0100 + c
        else if (c >= '0' && c <= '9') 0x2000 + c
        else if (c >= 'A' && c <= 'Z') 0x10000 + c
        else c.toInt
      i += 1
    }
    ("xn--" + graft.plans.GraftHashOps.punycodeEncode(cps)).getBytes("US-ASCII")
  }

  /** STRICT RFC 3492 Punycode decode + codepoint census via the
    * codegen'd `graft_punycode_stats` kernel — the §6.2
    * state machine with overflow checks AND canonical-form
    * enforcement (the decoded sequence must re-encode to the exact
    * input bytes: RFC 3492 encodings are unique, so a non-canonical
    * spelling aliases a distinct label — the dedup hazard the strict
    * Base64 decoder also closes). One linear pass + the bounded
    * re-encode per payload in the scan stage. Malformed payloads
    * report valid=false.
    */
  def punycodeStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_punycode_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as raw RFC 1951 deflate streams of their
    * leading `maxChars` characters. The compression LEVEL cycles
    * with doc_id (0 = stored blocks, 1 = fastest, 9 = best), so the
    * corpus exercises stored AND compressed block shapes while the
    * decoded output — and therefore the oracle — is level-invariant.
    * The compressor is the JDK's Deflater: an INDEPENDENT encoder
    * for the in-repo RFC 1951 inflate to be judged against.
    */
  def deflateFromDocuments(documents: DataFrame, maxChars: Int = 512): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val level = (id % 3) match { case 0 => 0; case 1 => 1; case _ => 9 }
      MediaRecord(id, "deflate", deflateBytes(text, maxChars, level.toInt))
    }
  }

  /** One exact raw (nowrap) deflate stream at the given level. */
  private[graft] def deflateBytes(text: String, maxChars: Int, level: Int): Array[Byte] = {
    val n    = math.min(maxChars, text.length)
    val data = text.substring(0, n).getBytes("US-ASCII")
    val defl = new java.util.zip.Deflater(level, true)
    defl.setInput(data)
    defl.finish()
    // worst-case deflate expansion is ~5 bytes per 16K block + a
    // constant, but grow rather than assume — a too-small fixed
    // buffer would spin the loop on deflate()==0 forever
    var buf = new Array[Byte](data.length + 64)
    var len = 0
    while (!defl.finished()) {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      len += defl.deflate(buf, len, buf.length - len)
    }
    defl.end()
    java.util.Arrays.copyOf(buf, len)
  }

  /** REAL (non-stub) decompression: the RFC 1951 inflate ALGORITHM
    * implemented in-repo (bit reader, stored/fixed/dynamic Huffman
    * blocks, canonical code construction, LZ77 back-reference
    * copies) via the codegen'd `graft_deflate_stats` kernel
    * expression — one pass per payload in the scan stage. This is
    * the layer every other compressed decode here borrows from the
    * JDK; implementing it closes the loop: the library now contains
    * a complete, oracle-checked decompressor stack with zero codec
    * libraries. Spec-checked byte-equal against java.util.zip
    * .Inflater on the corpus and on adversarial hand-built streams.
    * Malformed payloads report valid=false.
    */
  def deflateStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_deflate_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as VALID LZ4 FRAMES of their leading
    * `maxChars` characters, chunked into 256-byte blocks by the
    * in-repo greedy LZ4 block compressor (hash-table matcher, the
    * public block format's end-of-block rules: no match starting in
    * the last 12 bytes, last 5 bytes literal). Flag coverage cycles
    * with doc_id — per-block checksums on even ids, the content-size
    * field on ids % 3 == 0 — and a block that fails to shrink is
    * stored uncompressed (high-bit size), so the corpus exercises
    * compressed AND stored block shapes plus both optional fields.
    * Content checksum always on. The decoder
    * ([[graft.plans.GraftHashOps.lz4Stats]]) shares only the XXH32
    * primitive with this writer; the block DECODE path is exercised
    * against hand-built spec vectors in Lz4Spec as the independent
    * cross-check (no LZ4 codec exists in the JDK).
    */
  def lz4FromDocuments(documents: DataFrame, maxChars: Int = 512): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "lz4", lz4FrameBytes(text, maxChars, id))
    }
  }

  /** One LZ4 frame: magic, FLG/BD descriptor (+ optional content
    * size) with its XXH32-derived HC byte, 256-byte data blocks,
    * EndMark, content checksum.
    */
  private[graft] def lz4FrameBytes(text: String, maxChars: Int, id: Long): Array[Byte] = {
    val n    = math.min(maxChars, text.length)
    val data = text.substring(0, n).getBytes("US-ASCII")
    val bChecksum = id % 2 == 0
    val cSize     = id % 3 == 0
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    w32(0x184D2204L)
    val flg = 0x40 | 0x20 | (if (bChecksum) 0x10 else 0) | (if (cSize) 0x08 else 0) | 0x04
    val bd  = 4 << 4 // 64 KB max block size (blocks here are <= 256 B)
    val desc = new java.io.ByteArrayOutputStream()
    desc.write(flg); desc.write(bd)
    if (cSize) { var i = 0; while (i < 8) { desc.write(((data.length.toLong >>> (8 * i)) & 0xff).toInt); i += 1 } }
    val db = desc.toByteArray
    out.write(db, 0, db.length)
    out.write((graft.plans.GraftHashOps.xxhash32(db, 0, db.length, 0) >>> 8) & 0xff)
    var off = 0
    while (off < data.length) {
      val blen = math.min(256, data.length - off)
      val comp = lz4CompressBlock(data, off, blen)
      val (bytes, sizeWord) =
        if (comp.length >= blen) (java.util.Arrays.copyOfRange(data, off, off + blen), blen.toLong | 0x80000000L)
        else (comp, comp.length.toLong)
      w32(sizeWord)
      out.write(bytes, 0, bytes.length)
      if (bChecksum) w32(graft.plans.GraftHashOps.xxhash32(bytes, 0, bytes.length, 0).toLong & 0xffffffffL)
      off += blen
    }
    w32(0L) // EndMark
    w32(graft.plans.GraftHashOps.xxhash32(data, 0, data.length, 0).toLong & 0xffffffffL)
    out.toByteArray
  }

  /** Greedy in-repo LZ4 block compressor: a 4-byte hash-table
    * matcher (single probe, 16-bit offsets), forward extension, and
    * the spec's end-of-block encoder rules. Any valid stream is a
    * correct answer here — ratio is a non-goal; the decoder is the
    * judged artifact.
    */
  private[graft] def lz4CompressBlock(src: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def writeLen(l0: Int): Unit = { var l = l0; while (l >= 255) { out.write(255); l -= 255 }; out.write(l) }
    def read32(p: Int): Int =
      (src(p) & 0xff) | ((src(p + 1) & 0xff) << 8) | ((src(p + 2) & 0xff) << 16) | ((src(p + 3) & 0xff) << 24)
    def emit(litStart: Int, litLen: Int, offset: Int, matchLen: Int): Unit = {
      val ln = if (litLen >= 15) 15 else litLen
      val mn = if (matchLen >= 0) { val m = matchLen - 4; if (m >= 15) 15 else m } else 0
      out.write((ln << 4) | mn)
      if (litLen >= 15) writeLen(litLen - 15)
      out.write(src, litStart, litLen)
      if (matchLen >= 0) {
        out.write(offset & 0xff); out.write((offset >>> 8) & 0xff)
        if (matchLen - 4 >= 15) writeLen(matchLen - 19)
      }
    }
    val end = off + len
    var anchor = off
    if (len >= 13) {
      val table = new Array[Int](1 << 12)
      java.util.Arrays.fill(table, -1)
      val mfLimit    = end - 12 // no match may START past here
      val matchLimit = end - 5  // the last 5 bytes stay literal
      var ip = off
      while (ip < mfLimit) {
        val h    = (read32(ip) * 0x9E3779B1) >>> 20
        val cand = table(h)
        table(h) = ip
        if (cand >= off && ip - cand <= 0xffff && read32(cand) == read32(ip)) {
          var m = 4
          while (ip + m < matchLimit && src(cand + m) == src(ip + m)) m += 1
          emit(anchor, ip - anchor, ip - cand, m)
          ip += m
          anchor = ip
        } else ip += 1
      }
    }
    emit(anchor, end - anchor, 0, -1) // final literals-only sequence
    out.toByteArray
  }

  /** REAL (non-stub) LZ4 decode: frame walk, block decompression,
    * and XXH32 header/block/content verification implemented in-repo
    * via the codegen'd `graft_lz4_stats` kernel — one
    * pass per payload in the scan stage. Malformed payloads report
    * valid=false.
    */
  def lz4Stats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_lz4_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as VALID protobuf wire-format messages
    * (Google's public encoding — the serialization binary telemetry
    * columns speak): field 1 varint doc_id, field 2 length-delimited
    * payload (the leading `maxChars` chars), field 3 fixed32 = byte
    * sum of the payload (mod 2^32), field 4 fixed64 = payload
    * length, repeated field 5 varint = per-64-byte-segment byte sums
    * (multi-byte varints on every full segment), and — cycling with
    * doc_id so production rows exercise the decoder's skip paths —
    * field 6 fixed32 marker on ids % 5 == 0, plus UNKNOWN fields the
    * walker must skip by wire type: varint field 15 (ids % 7 == 0),
    * length-delimited field 16 (ids % 11 == 0), fixed64 field 17
    * (ids % 13 == 0). Fields 3/4/5 are internal checksums the
    * decoder re-derives from field 2 — a walker with the varint,
    * tag, or bounds rules wrong cannot agree with the oracle.
    */
  def protoFromDocuments(documents: DataFrame, maxChars: Int = 512): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "proto", protoMessageBytes(text, maxChars, id))
    }
  }

  private[graft] def protoMessageBytes(text: String, maxChars: Int, id: Long): Array[Byte] = {
    val n    = math.min(maxChars, text.length)
    val data = text.substring(0, n).getBytes("US-ASCII")
    val out  = new java.io.ByteArrayOutputStream()
    def uvarint(v: Long): Unit = {
      var x = v
      var more = true
      while (more) {
        val b = (x & 0x7f).toInt
        x = x >>> 7
        more = x != 0
        out.write(if (more) b | 0x80 else b)
      }
    }
    def tag(field: Int, wire: Int): Unit = uvarint((field.toLong << 3) | wire)
    def fixed32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    def fixed64(v: Long): Unit = {
      var i = 0
      while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    tag(1, 0); uvarint(id)
    tag(2, 2); uvarint(data.length.toLong); out.write(data, 0, data.length)
    var sum = 0L
    data.foreach(b => sum += b & 0xff)
    tag(3, 5); fixed32(sum & 0xffffffffL)
    tag(4, 1); fixed64(data.length.toLong)
    var off = 0
    while (off < data.length) {
      val seg = math.min(64, data.length - off)
      var segSum = 0L
      var j = 0
      while (j < seg) { segSum += data(off + j) & 0xff; j += 1 }
      tag(5, 0); uvarint(segSum)
      off += seg
    }
    if (id % 5 == 0) { tag(6, 5); fixed32(graft.plans.GraftHashOps.ProtoMarker) }
    if (id % 7 == 0) { tag(15, 0); uvarint(id) }
    if (id % 11 == 0) {
      val pad = "pad".getBytes("US-ASCII")
      tag(16, 2); uvarint(pad.length.toLong); out.write(pad, 0, pad.length)
    }
    if (id % 13 == 0) { tag(17, 1); fixed64(id) }
    out.toByteArray
  }

  /** REAL (non-stub) protobuf wire-format walk: strict tag/varint/
    * bounds rules, unknown-field skipping, and internal-checksum
    * verification via the codegen'd `graft_proto_stats` kernel
    * expression — one pass per payload in the scan stage. Malformed
    * payloads report valid=false.
    */
  def protoStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_proto_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as VALID Snappy FRAMING streams (the
    * storage-tier codec next to LZ4): the leading `maxChars`
    * characters split into 256-byte segments, each a data chunk —
    * compressed (0x00) by the in-repo greedy raw-Snappy encoder
    * when it shrinks, else uncompressed (0x01) — after the
    * stream-identifier chunk. Chunk CRCs are MASKED CRC-32C signed
    * by the JDK's INDEPENDENT java.util.zip.CRC32C, so the
    * decoder's clean-room Castagnoli table is cross-checked on
    * every production row (the targz JDK-gzip pattern). Coverage
    * cycles with doc_id: ids % 5 == 0 insert a padding chunk
    * (0xfe), ids % 7 == 0 force uncompressed data chunks; a
    * repeated stream-identifier chunk lands on ids % 11 == 0.
    */
  def snappyFromDocuments(documents: DataFrame, maxChars: Int = 512): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "snappy", snappyFrameBytes(text, maxChars, id))
    }
  }

  private def jdkCrc32cMasked(data: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(data, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  private[graft] def snappyFrameBytes(text: String, maxChars: Int, id: Long): Array[Byte] = {
    val n    = math.min(maxChars, text.length)
    val data = text.substring(0, n).getBytes("US-ASCII")
    val out  = new java.io.ByteArrayOutputStream()
    def chunk(typ: Int, body: Array[Byte]): Unit = {
      out.write(typ)
      out.write(body.length & 0xff); out.write((body.length >>> 8) & 0xff)
      out.write((body.length >>> 16) & 0xff)
      out.write(body, 0, body.length)
    }
    chunk(0xff, "sNaPpY".getBytes("US-ASCII"))
    if (id % 5 == 0) chunk(0xfe, Array.fill[Byte](8)(0))
    if (id % 11 == 0) chunk(0xff, "sNaPpY".getBytes("US-ASCII"))
    var off = 0
    while (off < data.length) {
      val seg  = math.min(256, data.length - off)
      val crc  = jdkCrc32cMasked(data, off, seg)
      val comp = snappyCompressRaw(data, off, seg)
      val (typ, payload) =
        if (id % 7 == 0 || comp.length >= seg)
          (0x01, java.util.Arrays.copyOfRange(data, off, off + seg))
        else (0x00, comp)
      val body = new Array[Byte](4 + payload.length)
      body(0) = (crc & 0xff).toByte; body(1) = ((crc >>> 8) & 0xff).toByte
      body(2) = ((crc >>> 16) & 0xff).toByte; body(3) = ((crc >>> 24) & 0xff).toByte
      System.arraycopy(payload, 0, body, 4, payload.length)
      chunk(typ, body)
      off += seg
    }
    out.toByteArray
  }

  /** Greedy in-repo raw-Snappy encoder: uvarint32 preamble, 4-byte
    * hash-table matcher, literals + copies. Short close matches
    * emit the 1-byte-offset copy tag (len 4-11, offset < 2048),
    * longer ones the 2-byte-offset tag in <= 64-byte pieces — so a
    * compressed corpus exercises both copy shapes the decoder must
    * handle (copy-4 is covered by hand vectors in SnappySpec; this
    * writer never needs offsets past 64 KiB). Ratio is a non-goal;
    * the decoder is the judged artifact.
    */
  private[graft] def snappyCompressRaw(src: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var v = len
    while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
    out.write(v)
    def literal(start: Int, l0: Int): Unit = if (l0 > 0) {
      var start2 = start
      var l = l0
      while (l > 0) {
        val take = math.min(l, 60) // single-byte literal tags only
        out.write((take - 1) << 2)
        out.write(src, start2, take)
        start2 += take; l -= take
      }
    }
    def copy(offset: Int, m0: Int): Unit = {
      var m = m0
      while (m > 0) {
        // leave at least 4 for the next piece (min copy length)
        val take = if (m > 64 && m < 68) m - 4 else math.min(m, 64)
        if (take >= 4 && take <= 11 && offset < 2048) {
          out.write(0x01 | ((take - 4) << 2) | ((offset >>> 8) << 5))
          out.write(offset & 0xff)
        } else {
          out.write(0x02 | ((take - 1) << 2))
          out.write(offset & 0xff); out.write((offset >>> 8) & 0xff)
        }
        m -= take
      }
    }
    def read32(p: Int): Int =
      (src(p) & 0xff) | ((src(p + 1) & 0xff) << 8) | ((src(p + 2) & 0xff) << 16) | ((src(p + 3) & 0xff) << 24)
    val end = off + len
    var anchor = off
    if (len >= 8) {
      val table = new Array[Int](1 << 12)
      java.util.Arrays.fill(table, -1)
      var ip = off
      while (ip + 4 <= end) {
        val h    = (read32(ip) * 0x9E3779B1) >>> 20
        val cand = table(h)
        table(h) = ip
        if (cand >= off && ip - cand <= 0xffff && read32(cand) == read32(ip)) {
          var m = 4
          while (ip + m < end && src(cand + m) == src(ip + m)) m += 1
          literal(anchor, ip - anchor)
          copy(ip - cand, m)
          ip += m
          anchor = ip
        } else ip += 1
      }
    }
    literal(anchor, end - anchor)
    out.toByteArray
  }

  /** REAL (non-stub) Snappy decode: framing walk, raw-block
    * decompression, and clean-room CRC-32C verification implemented
    * in-repo via the codegen'd `graft_snappy_stats` kernel
    * expression — one pass per payload in the scan stage. Malformed
    * payloads report valid=false.
    */
  def snappyStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_snappy_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as VALID gzipped USTAR archives
    * (.tar.gz): the leading `maxChars` characters split into
    * 100-char chunk files ("part0.txt", "part1.txt", ... — one
    * empty part for empty text), written by the in-repo ustar
    * writer (octal fields, header checksums, 512-byte blocking, two
    * zero-block terminator) and compressed by the JDK's own
    * GZIPOutputStream — an INDEPENDENT gzip encoder, so the decoder's
    * RFC 1952 layer is exercised against bytes it did not produce.
    * The oracle re-derives chunk count, sizes, and the content
    * byte-sum from the TEXT.
    */
  def targzFromDocuments(documents: DataFrame, maxChars: Int = 256): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "targz", targzBytes(text, maxChars))
    }
  }

  /** In-repo USTAR writer (the decoder's independent counterpart is
    * the JDK's gzip layer; no JDK tar utility exists) + JDK gzip.
    */
  private[graft] def targzBytes(text: String, maxChars: Int): Array[Byte] = {
    val n = math.min(maxChars, text.length)
    val chunks: Seq[String] =
      if (n == 0) Seq("")
      else (0 until n by 100).map(o => text.substring(o, math.min(o + 100, n)))
    val tar = new java.io.ByteArrayOutputStream()
    chunks.zipWithIndex.foreach { case (content, ci) =>
      val hdr = new Array[Byte](512)
      def putStr(o: Int, s: String): Unit = {
        val b = s.getBytes("US-ASCII"); System.arraycopy(b, 0, hdr, o, b.length)
      }
      def putOctal(o: Int, len: Int, v: Long): Unit =
        putStr(o, ("%0" + (len - 1) + "o").format(v)) // NUL-terminated by the zero fill
      putStr(0, s"part$ci.txt")
      putOctal(100, 8, 420)                 // mode 0644
      putOctal(108, 8, 0); putOctal(116, 8, 0) // uid/gid
      putOctal(124, 12, content.length.toLong)
      putOctal(136, 12, 0L)                 // mtime
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // chksum as spaces first
      hdr(156) = '0'.toByte                 // regular file
      putStr(257, "ustar"); putStr(263, "00")
      var s = 0L
      hdr.foreach(b => s += b & 0xff)
      putStr(148, "%06o".format(s))         // "%06o\0 " layout
      hdr(154) = 0; hdr(155) = ' '.toByte
      tar.write(hdr, 0, 512)
      val data = content.getBytes("US-ASCII")
      tar.write(data, 0, data.length)
      val pad = (512 - data.length % 512) % 512
      tar.write(new Array[Byte](pad), 0, pad)
    }
    tar.write(new Array[Byte](1024), 0, 1024) // two-zero-block terminator
    val bos = new java.io.ByteArrayOutputStream()
    val gz  = new java.util.zip.GZIPOutputStream(bos)
    gz.write(tar.toByteArray)
    gz.close()
    bos.toByteArray
  }

  /** REAL (non-stub) layered-container decode: RFC 1952 gzip member
    * parse (magic/flags, optional-field skipping, CRC-32 + ISIZE
    * trailer verification against the decompressed bytes) + strict
    * USTAR tar walk (octal fields, header-checksum verification,
    * block padding, two-zero-block terminator) via the codegen'd
    * `graft_targz_stats` kernel — one pass per payload in
    * the scan stage. The .tar.gz shard is THE delivery format of
    * web-scale text corpora; the decode is oracle-checked through
    * text-derived chunk sizes and content byte-sums. Malformed
    * payloads report valid=false.
    */
  def targzStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    decode(media, "graft_targz_stats", idCol, payloadCol).select(col(idCol), col("decoded.*"))

  /** Wrap text documents as VALID QOI images (8x5 px, RGB, alpha
    * 255): pixel (x, y) top-down takes channel values r,g,b =
    * (c_j & 0x7f) for j = 3·(y·8+x)+ch cycled over the text's
    * leading characters — the BMP/PNG pixel rule over 40 px — so an
    * oracle re-derives every pixel from the TEXT. The encoder is the
    * REFERENCE QOI algorithm (run-length, 64-entry hash-cache index
    * hits, 2-bit DIFF and green-anchored LUMA deltas, RGB literal
    * fallback), so real text produces a genuine mix of op types
    * (spec-asserted across the corpus) and the decoder's every path
    * is exercised by the gate, not just by unit vectors.
    */
  def qoiFromDocuments(documents: DataFrame, maxChars: Int = 120): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "qoi", qoiBytes(text, maxChars))
    }
  }

  /** Reference-algorithm QOI encoder (8x5 RGB, alpha fixed 255 so
    * OP_RGBA is never needed; the decoder still implements it).
    */
  private[graft] def qoiBytes(text: String, maxChars: Int): Array[Byte] = {
    val (w, h) = (8, 5)
    val l      = math.min(maxChars, text.length)
    def ch(j: Int): Int = if (l == 0) 0 else text.charAt(j % l) & 0x7f
    val out = new java.io.ByteArrayOutputStream()
    out.write("qoif".getBytes("US-ASCII"), 0, 4)
    def be32(v: Int): Unit = { out.write(v >>> 24); out.write((v >>> 16) & 0xff); out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    be32(w); be32(h)
    out.write(3); out.write(0) // RGB, sRGB
    var pr = 0; var pg = 0; var pb = 0
    // 64-entry cache, 3 channels (alpha is constant 255 here). A
    // zero-initialized slot means (0,0,0,alpha=0) in the reference
    // encoder — which never equals a real pixel's alpha 255 — so an
    // unwritten slot must NOT count as a hit: `seen` carries that.
    val idx  = new Array[Int](192)
    val seen = new Array[Boolean](64)
    var run = 0
    var p = 0
    while (p < w * h) {
      val r = ch(3 * p); val g = ch(3 * p + 1); val b = ch(3 * p + 2)
      if (r == pr && g == pg && b == pb) {
        // includes a first pixel equal to the implicit (0,0,0)
        // start state — a leading run is valid QOI
        run += 1
        if (run == 62) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val hs = (3 * r + 5 * g + 7 * b + 11 * 255) & 0x3f
        val hp = hs * 3
        if (seen(hs) && idx(hp) == r && idx(hp + 1) == g && idx(hp + 2) == b) {
          out.write(hs) // OP_INDEX
        } else {
          idx(hp) = r; idx(hp + 1) = g; idx(hp + 2) = b; seen(hs) = true
          val dr = ((r - pr + 128) & 0xff) - 128 // wrapped signed delta
          val dg = ((g - pg + 128) & 0xff) - 128
          val db = ((b - pb + 128) & 0xff) - 128
          if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1) {
            out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
          } else if (dg >= -32 && dg <= 31 && dr - dg >= -8 && dr - dg <= 7 && db - dg >= -8 && db - dg <= 7) {
            out.write(0x80 | (dg + 32)); out.write(((dr - dg + 8) << 4) | (db - dg + 8))
          } else {
            out.write(0xfe); out.write(r); out.write(g); out.write(b)
          }
        }
        pr = r; pg = g; pb = b
      }
      p += 1
    }
    if (run > 0) out.write(0xc0 | (run - 1))
    var i = 0
    while (i < 7) { out.write(0); i += 1 }
    out.write(1)
    out.toByteArray
  }

  /** REAL (non-stub) QOI decode: the ENTIRE codec implemented
    * in-repo per the published spec — no JDK utility exists for QOI
    * at all, so unlike the PNG twin not even the compression layer
    * is borrowed — via the codegen'd `graft_qoi_stats` kernel
    * expression, one pass per payload in the scan stage. Exercises
    * run-length, hash-cache index, DIFF/LUMA delta, and literal
    * paths on the generated corpus (spec-asserted op coverage).
    * Malformed payloads report valid=false.
    */
  def qoiStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    pixelMoments(media, "graft_qoi_stats", idCol, payloadCol)

  /** Wrap text documents as VALID GIF89a images (7x5 px, 256-entry
    * global color table): pixel p = y·7+x takes PALETTE INDEX
    * i = (c_p & 0x7f) from the text's leading characters, and
    * palette entry i resolves to rgb = (i, 2i mod 256, 3i mod 256) —
    * so an oracle re-derives every pixel from the TEXT through the
    * palette rule. The LZW stream uses the canonical "uncompressed"
    * encoding (one CLEAR, fixed 9-bit literal codes, EOI — valid
    * because 35 literals grow the decoder's dictionary only to 292
    * < 512); the SPEC additionally round-trips ImageIO's own
    * REAL-LZW-compressed GIFs through the decoder, so the
    * dictionary-growth paths are exercised against an independent
    * encoder.
    */
  def gifFromDocuments(documents: DataFrame, maxChars: Int = 35): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      MediaRecord(id, "gif", gifBytes(text, maxChars))
    }
  }

  /** Minimal canonical GIF89a writer (global 256-color table,
    * single image, uncompressed-trick LZW at fixed 9-bit width).
    */
  private[graft] def gifBytes(text: String, maxChars: Int): Array[Byte] = {
    val (w, h) = (7, 5)
    val l      = math.min(maxChars, text.length)
    def idx(j: Int): Int = if (l == 0) 0 else text.charAt(j % l) & 0x7f
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"), 0, 6)
    out.write(w & 0xff); out.write(w >> 8); out.write(h & 0xff); out.write(h >> 8)
    out.write(0xf7); out.write(0); out.write(0) // GCT, 256 entries
    var i = 0
    while (i < 256) { out.write(i); out.write((2 * i) & 0xff); out.write((3 * i) & 0xff); i += 1 }
    out.write(0x2c); out.write(0); out.write(0); out.write(0); out.write(0)
    out.write(w & 0xff); out.write(w >> 8); out.write(h & 0xff); out.write(h >> 8)
    out.write(0)
    out.write(8) // LZW min code size
    val codes = 256 +: Array.tabulate(w * h)(idx) :+ 257 // CLEAR, literals, EOI
    val bits  = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nb = 0
    codes.foreach { c =>
      acc |= c.toLong << nb; nb += 9
      while (nb >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
    }
    if (nb > 0) bits.write((acc & 0xff).toInt)
    val stream = bits.toByteArray
    var o = 0
    while (o < stream.length) {
      val n = math.min(255, stream.length - o)
      out.write(n); out.write(stream, o, n); o += n
    }
    out.write(0); out.write(0x3b)
    out.toByteArray
  }

  /** REAL (non-stub) LZW-compressed-image decode: strict GIF
    * container parse + a FULLY in-repo LZW decoder (variable-width
    * codes, dictionary growth to 12 bits, the KwKwK self-reference
    * case) + exact integer pixel moments over palette-resolved RGB
    * via the codegen'd `graft_gif_stats` kernel —
    * one pass per payload in the scan stage. Where the PNG twin
    * borrows the JDK's Inflater for its compression layer, GIF-LZW
    * has no JDK utility: the decompressor itself is part of the
    * library. Malformed payloads report valid=false.
    */
  def gifStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    pixelMoments(media, "graft_gif_stats", idCol, payloadCol)

  /** REAL (non-stub) image decode: strict uncompressed-BMP (24 bpp)
    * header parse + exact integer pixel moments via the codegen'd
    * `graft_bmp_stats` kernel — one linear pass per
    * payload in the scan stage honoring BGR order and row padding,
    * no codec library (uncompressed BMP is byte math; compressed
    * formats remain the DECLARED stub). Channel means and luma are
    * ONE IEEE division over exact integer sums. Malformed payloads
    * report valid=false.
    */
  def bmpStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    pixelMoments(media, "graft_bmp_stats", idCol, payloadCol)

  /** REAL (non-stub) audio decode: strict RIFF/WAVE PCM16 header
    * parse + exact integer sample moments via the codegen'd
    * `graft_wav_stats` kernel — one linear pass per
    * payload inside the scan stage, no codec library (PCM-WAV is
    * byte math; compressed formats remain the DECLARED stub).
    * Output: header fields as parsed (the oracle asserts them
    * independently), exact n/peak, and mean/rms as ONE IEEE
    * division (+sqrt) over exact integer moments — the house
    * determinism recipe. Malformed payloads report valid=false.
    */
  def wavStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    val n = col("decoded.n_samples")
    decode(media, "graft_wav_stats", idCol, payloadCol)
      .select(col(idCol),
        col("decoded.valid").as("valid"),
        col("decoded.sample_rate").as("sample_rate"),
        col("decoded.n_channels").as("n_channels"),
        col("decoded.bits").as("bits"),
        n.as("n_samples"),
        when(n > 0, col("decoded.peak_abs")).as("peak_abs"),
        when(n > 0, col("decoded.sum_s").cast("double") / n.cast("double")).as("mean_sample"),
        when(n > 0, sqrt(col("decoded.sum_sq").cast("double") / n.cast("double"))).as("rms"))
  }

  /** REAL (non-stub) binary compute: per-payload byte-histogram
    * profile — size, distinct byte values, modal byte + count, and
    * Shannon entropy in bits/byte — via the codegen'd
    * `graft_byte_stats` kernel, one linear pass per
    * payload inside the scan stage. No codec needed: entropy triage
    * (compressed/encrypted vs structured vs text payloads) is the
    * first filter every binary-ingest pipeline runs, before any
    * decode is attempted. Scan-shaped — no shuffle, no UDF; at
    * 100 TB the cost is the parquet read itself.
    */
  def byteStats(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    decode(media, "graft_byte_stats", idCol, payloadCol)
      .select(col(idCol), col("decoded.n_bytes").as("n_bytes"),
        col("decoded.distinct_bytes").as("distinct_bytes"),
        col("decoded.top_byte").as("top_byte"), col("decoded.top_count").as("top_count"),
        round(col("decoded.entropy"), 6).as("entropy"))
  }

  /** REAL (non-stub) binary chunk-dedup accounting: payloads split
    * into fixed `chunkBytes` chunks (byte-offset slicing on the
    * binary column — content-defined boundaries drop into the same
    * shape), each chunk identified by the md5 of its raw bytes, and
    * per-payload accounting of how much of it is duplicate content:
    * total chunks, distinct chunk hashes within the payload, and
    * chunks whose hash also appears in at least one OTHER payload
    * (the cross-document shared volume a chunk store would dedup
    * away). All built-ins — sequence/substring/md5 are codegen'd;
    * the only shuffles are the chunk-hash groupBy (the CDC registry
    * build, linear in total chunk count) and the hash equi-join
    * back. This is the fixed-size variant of the FastCDC/
    * rolling-hash chunk dedup that backs binary blob stores.
    */
  def chunkDedupStats(media: DataFrame, chunkBytes: Int = 64,
                      idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    require(chunkBytes > 0, s"chunkBytes must be positive, got $chunkBytes")
    val chunks = media
      .select(col(idCol), col(payloadCol).as("payload"))
      .withColumn("ci",
        explode(sequence(lit(0L),
          floor((length(col("payload")) - lit(1)) / chunkBytes).cast("long"))))
      .select(col(idCol),
        md5(expr(s"substring(payload, ci * $chunkBytes + 1, $chunkBytes)")).as("ch"))
    val registry = chunks.groupBy(col("ch"))
      .agg(countDistinct(col(idCol)).as("docs_with"))
    chunks.join(registry, "ch")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("ch")).as("distinct_chunks"),
        sum(when(col("docs_with") > 1, 1L).otherwise(0L)).as("shared_chunks"))
  }

  /** Magic-byte table for [[sniffFormat]]: (format, header bytes).
    * Real file-format magics; none is a prefix of another, so
    * first-match detection is unambiguous.
    */
  val Magics: Seq[(String, Array[Byte])] = Seq(
    "png"  -> Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte),
    "jpeg" -> Array(0xFF, 0xD8, 0xFF).map(_.toByte),
    "gif"  -> "GIF89a".getBytes("UTF-8"),
    "pdf"  -> "%PDF-".getBytes("UTF-8"),
    "zip"  -> Array('P'.toInt, 'K'.toInt, 0x03, 0x04).map(_.toByte))

  /** Document payloads prefixed with a REAL file-format magic header
    * (chosen deterministically per media_id), standing in for a blob
    * store holding mixed media. The header is genuine bytes ON the
    * binary column — [[sniffFormat]] must read them back, it cannot
    * see the assignment rule.
    */
  def mediaWithHeaders(documents: DataFrame): DataFrame = {
    val hdr = element_at(
      array(Magics.map { case (_, bytes) => lit(bytes) }: _*),
      (pmod(col("doc_id"), lit(Magics.size.toLong)) + 1).cast("int"))
    documents.select(
      col("doc_id").as("media_id"),
      concat(hdr, col("text").cast("binary")).as("payload"))
  }

  /** REAL (non-stub) binary compute: file-format sniffing by magic
    * bytes — the dispatch step in front of any decode in a
    * multimodal ingest pipeline (routing payloads to the right
    * codec, quarantining unknowns). First-match over [[Magics]] via
    * prefix compares on the raw binary column; all codegen'd
    * built-ins (substring/comparison on binary), scan-shaped, zero
    * shuffle — at 100 TB the cost is the parquet read. Emits the
    * detected format, total size, and body size (header stripped;
    * unknown payloads keep their full length).
    */
  def sniffFormat(media: DataFrame, idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    val detected = Magics.foldRight(lit("unknown")) { case ((name, bytes), acc) =>
      when(substring(col(payloadCol), 1, bytes.length) === lit(bytes), lit(name)).otherwise(acc)
    }
    val hdrLen = Magics.foldRight(lit(0)) { case ((name, bytes), acc) =>
      when(col("fmt") === name, lit(bytes.length)).otherwise(acc)
    }
    media
      .select(col(idCol), detected.as("fmt"), length(col(payloadCol)).cast("long").as("n_bytes"))
      .withColumn("body_bytes", col("n_bytes") - hdrLen)
  }

  case class FrameRecord(media_id: Long, frame_no: Long, frame: Array[Byte])

  /** Frame sampling (video analog): the payload is treated as a
    * sequence of `frameBytes` frames; every `everyN`-th frame is
    * emitted as its own row. Row count stays proportional to input
    * (len/frameBytes/everyN) and the explode happens per partition —
    * no driver involvement, no skew beyond payload-size skew.
    */
  def sampleFrames(media: Dataset[MediaRecord], frameBytes: Int = 256, everyN: Int = 4, batchSize: Int = 64): Dataset[FrameRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { iter =>
      iter.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          // a demuxer context per batch would be opened here
          r.payload.grouped(frameBytes).zipWithIndex.collect {
            case (frame, idx) if idx % everyN == 0 =>
              FrameRecord(r.media_id, idx.toLong, frame)
          }
        }
      }
    }
  }

  /** Binary near-dup via chunk-level simhash: payloads chunk into
    * fixed `chunkBytes` pieces (the [[chunkDedupStats]] slicing),
    * each chunk's md5 becomes a simhash token, and candidate pairs
    * come from the 12-bit banded hamming join — the perceptual-
    * fingerprint shape for blobs, where [[chunkDedupStats]] only
    * sees EXACT shared chunks, this scores payloads whose chunk SETS
    * mostly overlap (trailing edits, small mutations). All compute
    * is the proven text pipeline re-pointed at binary slices:
    * codegen'd substring/md5/conv per chunk, the 60-bit sign-sum
    * aggregate, and the pigeonhole band join (exact for
    * dist <= bands-1, never all-pairs).
    */
  def binaryNearDup(media: DataFrame, chunkBytes: Int = 8, maxDist: Int = 4, bands: Int = 5,
                    idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    require(maxDist <= bands - 1, s"banding is only exact for maxDist <= ${bands - 1}")
    require(12 * bands <= 60, s"$bands 12-bit bands exceed the 60-bit simhash (max 5)")
    val toks = media
      .select(col(idCol).as("doc_id"), col(payloadCol).as("payload"))
      .withColumn("ci",
        explode(sequence(lit(0L),
          floor((length(col("payload")) - lit(1)) / chunkBytes).cast("long"))))
      .select(col("doc_id"),
        md5(expr(s"substring(payload, ci * $chunkBytes + 1, $chunkBytes)")).as("t"))
    val bitSums = (0 until 60).map(b =>
      sum(when(expr(s"shiftright(h, $b) % 2") === 1, 1).otherwise(-1)).as(s"s$b"))
    val sims = toks
      .withColumn("h", conv(substring(col("t"), 1, 15), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60)
          .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
          .as("simhash"))
    val stackArgs = (0 until bands)
      .map(b => s"${b}L, cast(shiftright(simhash, ${12 * b}) & 4095 as long)")
      .mkString(", ")
    val banded = sims.select(col("doc_id"), col("simhash"),
      expr(s"stack($bands, $stackArgs) as (band, bv)"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("media_a"), col("b.doc_id").as("media_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct()
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("media_a"), col("media_b"), col("dist"))
  }
}
