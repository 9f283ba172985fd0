package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import Preludes.margined

/** The declared queries of binary and media decoding: images, audio,
  * archives and encodings: those whose closures call
  * [[graft.operators.Multimodal]]. Each record keeps its closure
  * beside the DuckDB oracle that must reproduce its rows.
  */
object MultimodalQueries {

  val all: Seq[Query] = Seq(
    Query("q_multimodal_features", (s, dir) => {
      import org.apache.spark.sql.functions.col
      Multimodal
        .extractFeatures(Multimodal.mediaFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")))
        .toDF()
    },
      """SELECT doc_id AS media_id, strlen(text) AS n_bytes,
        |  16 + strlen(text) % 64 AS feat_width,
        |  16 + (strlen(text) * 7) % 64 AS feat_height,
        |  md5(text) AS feat_hash
        |FROM documents ORDER BY media_id""".stripMargin),
    Query("q_wav_stats", (s, dir) =>
      Multimodal
        .wavStats(Multimodal.wavFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // the corpus is pure ASCII (octet_length == strlen for every
      // doc, asserted in MultimodalSpec), so DuckDB's char functions
      // see exactly the bytes Spark's binary expression sees
      // independent derivation: the oracle re-derives the expected
      // waveform from TEXT (one sample per leading char), never seeing
      // the WAV bytes — so a wrong header offset or endianness in the
      // Spark parser hash-mismatches; the header constants assert the
      // parsed fmt fields
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    list_transform(generate_series(1, least(96, length(text))),
        |      i -> ascii(substr(text, CAST(i AS INT), 1)) % 128 * 257 - 16384) AS smp
        |  FROM documents
        |)
        |SELECT media_id,
        |  TRUE AS valid, 8000 AS sample_rate, 1 AS n_channels, 16 AS bits,
        |  CAST(len(smp) AS BIGINT) AS n_samples,
        |  CASE WHEN len(smp) > 0
        |    THEN CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) END AS peak_abs,
        |  CASE WHEN len(smp) > 0
        |    THEN CAST(list_sum(smp) AS DOUBLE) / CAST(len(smp) AS DOUBLE) END AS mean_sample,
        |  CASE WHEN len(smp) > 0
        |    THEN sqrt(CAST(list_sum(list_transform(smp, x -> x * x)) AS DOUBLE)
        |              / CAST(len(smp) AS DOUBLE)) END AS rms
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_bmp_stats", (s, dir) =>
      Multimodal
        .bmpStats(Multimodal.bmpFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation: expected pixels come from TEXT (the
      // top-down generation rule), never from the BMP bytes — the
      // on-disk image is bottom-up BGR with padded rows, so a parser
      // that misses the channel swap or the row stride cannot agree
      """WITH px AS (
        |  SELECT doc_id AS media_id, least(96, length(text)) AS l, text,
        |    unnest(generate_series(0, 27)) AS p
        |  FROM documents
        |), chv AS (
        |  SELECT media_id,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST((3*p) % l AS INT) + 1, 1)) % 128 END AS r,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST((3*p+1) % l AS INT) + 1, 1)) % 128 END AS g,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST((3*p+2) % l AS INT) + 1, 1)) % 128 END AS b
        |  FROM px
        |)
        |SELECT media_id, TRUE AS valid, 7 AS width, 4 AS height,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(max(greatest(r, g, b)) AS INT) AS peak,
        |  CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_r,
        |  CAST(sum(g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_g,
        |  CAST(sum(b) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_b,
        |  CAST(sum(299 * r + 587 * g + 114 * b) AS DOUBLE)
        |    / CAST(count(*) * 1000 AS DOUBLE) AS mean_luma
        |FROM chv GROUP BY media_id ORDER BY media_id""".stripMargin),
    Query("q_png_stats", (s, dir) =>
      Multimodal
        .pngStats(Multimodal.pngFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, PNG twin: expected pixels come from
      // TEXT (the top-down generation rule over 35 px), never from the
      // PNG bytes — the on-disk image is zlib-compressed with a
      // DIFFERENT filter per row (all five types), so a decoder with
      // any defilter, inflate framing, or CRC handling wrong cannot
      // agree on a single document
      """WITH px AS (
        |  SELECT doc_id AS media_id, least(105, length(text)) AS l, text,
        |    unnest(generate_series(0, 34)) AS p
        |  FROM documents
        |), chv AS (
        |  SELECT media_id,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST((3*p) % l AS INT) + 1, 1)) % 128 END AS r,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST((3*p+1) % l AS INT) + 1, 1)) % 128 END AS g,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST((3*p+2) % l AS INT) + 1, 1)) % 128 END AS b
        |  FROM px
        |)
        |SELECT media_id, TRUE AS valid, 7 AS width, 5 AS height,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(max(greatest(r, g, b)) AS INT) AS peak,
        |  CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_r,
        |  CAST(sum(g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_g,
        |  CAST(sum(b) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_b,
        |  CAST(sum(299 * r + 587 * g + 114 * b) AS DOUBLE)
        |    / CAST(count(*) * 1000 AS DOUBLE) AS mean_luma
        |FROM chv GROUP BY media_id ORDER BY media_id""".stripMargin),
    Query("q_utf8_stats", (s, dir) =>
      Multimodal
        .utf8Stats(Multimodal.utf8FromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, UTF-8: the oracle re-derives every
      // byte-class count and the max codepoint from TEXT through the
      // fixed mapping rule (vowels 2-byte, digits 3-byte, uppercase
      // 4-byte astral) — the bytes on disk are JDK-encoder UTF-8, so a
      // validator with the continuation, overlong, or length rules
      // wrong cannot agree
      """WITH ch AS (
        |  SELECT doc_id AS media_id, i,
        |    ascii(substr(text, CAST(i AS INT), 1)) AS a,
        |    substr(text, CAST(i AS INT), 1) AS c
        |  FROM documents, unnest(generate_series(1, least(200, length(text)))) AS u(i)
        |), cls AS (
        |  SELECT media_id,
        |    CASE WHEN c IN ('a','e','i','o','u') THEN 2
        |         WHEN a BETWEEN 48 AND 57 THEN 3
        |         WHEN a BETWEEN 65 AND 90 THEN 4
        |         WHEN a < 128 THEN 1
        |         WHEN a < 2048 THEN 2
        |         WHEN a < 65536 THEN 3
        |         ELSE 4 END AS nb,
        |    CASE WHEN c IN ('a','e','i','o','u') THEN 256 + a
        |         WHEN a BETWEEN 48 AND 57 THEN 8192 + a
        |         WHEN a BETWEEN 65 AND 90 THEN 65536 + a
        |         ELSE a END AS cp
        |  FROM ch
        |), agg AS (
        |  SELECT media_id,
        |    CAST(sum(nb) AS BIGINT) AS n_bytes,
        |    CAST(count(*) AS BIGINT) AS n_codepoints,
        |    CAST(sum(CASE WHEN nb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ascii,
        |    CAST(sum(CASE WHEN nb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2byte,
        |    CAST(sum(CASE WHEN nb = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_3byte,
        |    CAST(sum(CASE WHEN nb = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_4byte,
        |    CAST(max(cp) AS INT) AS max_cp
        |  FROM cls GROUP BY media_id
        |)
        |SELECT d.doc_id AS media_id, TRUE AS valid,
        |  coalesce(a.n_bytes, 0) AS n_bytes,
        |  coalesce(a.n_codepoints, 0) AS n_codepoints,
        |  coalesce(a.n_ascii, 0) AS n_ascii,
        |  coalesce(a.n_2byte, 0) AS n_2byte,
        |  coalesce(a.n_3byte, 0) AS n_3byte,
        |  coalesce(a.n_4byte, 0) AS n_4byte,
        |  coalesce(a.max_cp, 0) AS max_cp
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.media_id
        |ORDER BY media_id""".stripMargin),
    Query("q_utf16_stats", (s, dir) =>
      Multimodal
        .utf16Stats(Multimodal.utf16FromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, UTF-16: same mapping rule as the UTF-8
      // twin but sized in UTF-16 units — vowels/digits are BMP (2
      // bytes), uppercase is ASTRAL (a surrogate PAIR, 4 bytes) — and
      // the bytes on disk alternate big-/little-endian by doc parity,
      // so a validator with the BOM, byte order, or pairing rules
      // wrong cannot agree
      """WITH ch AS (
        |  SELECT doc_id AS media_id, i,
        |    ascii(substr(text, CAST(i AS INT), 1)) AS a,
        |    substr(text, CAST(i AS INT), 1) AS c
        |  FROM documents, unnest(generate_series(1, least(200, length(text)))) AS u(i)
        |), cls AS (
        |  SELECT media_id,
        |    CASE WHEN a BETWEEN 65 AND 90 THEN 1 ELSE 0 END AS supp,
        |    CASE WHEN c IN ('a','e','i','o','u') THEN 256 + a
        |         WHEN a BETWEEN 48 AND 57 THEN 8192 + a
        |         WHEN a BETWEEN 65 AND 90 THEN 65536 + a
        |         ELSE a END AS cp
        |  FROM ch
        |), agg AS (
        |  SELECT media_id,
        |    CAST(2 + sum(2 + 2 * supp) AS BIGINT) AS n_bytes,
        |    CAST(count(*) AS BIGINT) AS n_codepoints,
        |    CAST(sum(1 - supp) AS BIGINT) AS n_bmp,
        |    CAST(sum(supp) AS BIGINT) AS n_supplementary,
        |    CAST(max(cp) AS INT) AS max_cp,
        |    CAST(sum(cp) AS BIGINT) AS sum_cp
        |  FROM cls GROUP BY media_id
        |)
        |SELECT d.doc_id AS media_id, TRUE AS valid,
        |  coalesce(a.n_bytes, 2) AS n_bytes,
        |  coalesce(a.n_codepoints, 0) AS n_codepoints,
        |  coalesce(a.n_bmp, 0) AS n_bmp,
        |  coalesce(a.n_supplementary, 0) AS n_supplementary,
        |  coalesce(a.max_cp, 0) AS max_cp,
        |  coalesce(a.sum_cp, 0) AS sum_cp
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.media_id
        |ORDER BY media_id""".stripMargin),
    Query("q_punycode_stats", (s, dir) =>
      Multimodal
        .punycodeStats(Multimodal.punycodeFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, Punycode: the oracle re-derives the
      // codepoint census from TEXT through the shared mapping rule —
      // the bytes on disk are the RFC 3492 DELTA STREAM (bias state
      // machine, variable-length integers), so a decoder with the
      // digit alphabet, bias adaptation, or insertion order wrong
      // cannot agree on a single document
      """WITH ch AS (
        |  SELECT doc_id AS media_id, i,
        |    ascii(substr(text, CAST(i AS INT), 1)) AS a,
        |    substr(text, CAST(i AS INT), 1) AS c
        |  FROM documents, unnest(generate_series(1, least(128, length(text)))) AS u(i)
        |), cls AS (
        |  SELECT media_id,
        |    CASE WHEN c IN ('a','e','i','o','u') OR a BETWEEN 48 AND 57
        |              OR a BETWEEN 65 AND 90 THEN 1 ELSE 0 END AS ext,
        |    CASE WHEN c IN ('a','e','i','o','u') THEN 256 + a
        |         WHEN a BETWEEN 48 AND 57 THEN 8192 + a
        |         WHEN a BETWEEN 65 AND 90 THEN 65536 + a
        |         ELSE a END AS cp
        |  FROM ch
        |), agg AS (
        |  SELECT media_id,
        |    CAST(count(*) AS BIGINT) AS n_codepoints,
        |    CAST(sum(1 - ext) AS BIGINT) AS n_basic,
        |    CAST(sum(ext) AS BIGINT) AS n_extended,
        |    CAST(max(cp) AS INT) AS max_cp,
        |    CAST(sum(cp) AS BIGINT) AS sum_cp
        |  FROM cls GROUP BY media_id
        |)
        |SELECT d.doc_id AS media_id, TRUE AS valid,
        |  coalesce(a.n_codepoints, 0) AS n_codepoints,
        |  coalesce(a.n_basic, 0) AS n_basic,
        |  coalesce(a.n_extended, 0) AS n_extended,
        |  coalesce(a.max_cp, 0) AS max_cp,
        |  coalesce(a.sum_cp, 0) AS sum_cp
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.media_id
        |ORDER BY media_id""".stripMargin),
    Query("q_base64_stats", (s, dir) =>
      Multimodal
        .base64Stats(Multimodal.base64FromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, Base64: the oracle re-derives the
      // decoded length/byte-sum/max from TEXT — the bytes on disk are
      // JDK-encoder Base64, so an alphabet, padding, or bit-packing
      // bug in the strict decoder cannot agree
      """WITH s AS (
        |  SELECT doc_id AS media_id, least(256, length(text)) AS n, text
        |  FROM documents
        |)
        |SELECT media_id, TRUE AS valid,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT) AS sum_bytes,
        |  CAST(coalesce(list_max(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS INT) AS max_byte
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_deflate_stats", (s, dir) =>
      Multimodal
        .deflateStats(Multimodal.deflateFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, raw deflate: the oracle re-derives the
      // decompressed length/byte-sum/max from TEXT — the bytes on disk
      // are JDK-Deflater streams at per-doc levels (stored, fastest,
      // best), and the Spark side decompresses them with the IN-REPO
      // RFC 1951 inflate, so a Huffman-construction, extra-bits, or
      // back-reference bug cannot agree on a single document
      s"""${mediaText("        ")}
        |SELECT media_id, TRUE AS valid,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT) AS sum_bytes,
        |  CAST(coalesce(list_max(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS INT) AS max_byte
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_snappy_stats", (s, dir) =>
      Multimodal
        .snappyStats(Multimodal.snappyFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      s"""${mediaText("        ")}
        |SELECT media_id, TRUE AS valid,
        |  CAST(CASE WHEN n = 0 THEN 0 ELSE ceil(n / 256.0) END AS INT) AS n_chunks,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT) AS sum_bytes,
        |  CAST(coalesce(list_max(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS INT) AS max_byte
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_proto_stats", (s, dir) =>
      Multimodal
        .protoStats(Multimodal.protoFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, LZ4: the oracle re-derives the block
      // count (256-byte frame chunking), decoded length, byte-sum and
      // max from TEXT, never seeing the frame — the bytes on disk are
      // the in-repo greedy compressor's sequences behind XXH32-signed
      // framing, so a decoder with the token/extension/offset rules,
      // the HC/block/content checksums, or strict end-of-payload wrong
      // cannot agree
      // independent derivation, Snappy: the oracle re-derives data-chunk
      // count (256-byte segments of the leading 512 chars), decoded
      // length, byte-sum and max from TEXT — the bytes on disk are the
      // in-repo framing writer signed with the JDK's INDEPENDENT
      // CRC32C, so a decoder with the tag parsing, uvarint preamble,
      // overlap copies, chunk framing, or the Castagnoli table wrong
      // cannot agree
      // independent derivation, protobuf: the oracle re-derives the
      // field census (4 required fields + one repeated varint per
      // 64-byte segment + the id-cycled marker/unknown fields), byte
      // count, byte-sum and max from TEXT and doc_id alone — a walker
      // with the tag/varint/bounds/skip rules or the internal
      // fixed32/fixed64/segment-sum cross-checks wrong cannot agree
      s"""${mediaText("        ")}
        |SELECT media_id, TRUE AS valid,
        |  CAST(4 + CASE WHEN n = 0 THEN 0 ELSE ceil(n / 64.0) END
        |     + CASE WHEN media_id % 5 = 0 THEN 1 ELSE 0 END
        |     + CASE WHEN media_id % 7 = 0 THEN 1 ELSE 0 END
        |     + CASE WHEN media_id % 11 = 0 THEN 1 ELSE 0 END
        |     + CASE WHEN media_id % 13 = 0 THEN 1 ELSE 0 END AS INT) AS n_fields,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT) AS sum_bytes,
        |  CAST(coalesce(list_max(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS INT) AS max_byte
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_lz4_stats", (s, dir) =>
      Multimodal
        .lz4Stats(Multimodal.lz4FromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      s"""${mediaText("        ")}
        |SELECT media_id, TRUE AS valid,
        |  CAST(CASE WHEN n = 0 THEN 0 ELSE ceil(n / 256.0) END AS INT) AS n_blocks,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT) AS sum_bytes,
        |  CAST(coalesce(list_max(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS INT) AS max_byte
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_targz_stats", (s, dir) =>
      Multimodal
        .targzStats(Multimodal.targzFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, tar.gz: the oracle re-derives chunk
      // count (100-char parts over the leading 256 chars, one empty
      // part for empty text), sizes, and the content byte-sum from
      // TEXT — the bytes on disk are an in-repo USTAR archive behind
      // the JDK's gzip, so a decoder with the octal fields, header
      // checksum, block padding, or RFC 1952 trailer handling wrong
      // cannot agree
      """WITH s AS (
        |  SELECT doc_id AS media_id, least(256, length(text)) AS n, text
        |  FROM documents
        |)
        |SELECT media_id, TRUE AS valid,
        |  CASE WHEN n = 0 THEN 1 ELSE CAST(ceil(n / 100.0) AS INT) END AS n_entries,
        |  CAST(n AS BIGINT) AS total_bytes,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT) AS sum_bytes,
        |  CAST(least(n, 100) AS BIGINT) AS max_entry_bytes
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_zip_stats", (s, dir) =>
      Multimodal
        .zipStats(Multimodal.zipFromDocuments(Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, ZIP: the oracle re-derives entry
      // count, uncompressed sizes, and the content byte-sum from TEXT
      // (two entries split at n/2 over the leading 256 chars; the
      // corpus is pure ASCII so byte values are code points), never
      // seeing the archive — the bytes on disk are JDK-written
      // streaming ZIP (bit 3: zeroed local sizes + data descriptors),
      // so a decoder that trusts local headers or skips the CRC/size
      // cross-checks cannot agree
      """WITH s AS (
        |  SELECT doc_id AS media_id, least(256, length(text)) AS n, text
        |  FROM documents
        |)
        |SELECT media_id, TRUE AS valid, 2 AS n_entries,
        |  CAST(n AS BIGINT) AS total_bytes,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, n),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT) AS sum_bytes,
        |  CAST(n - n // 2 AS BIGINT) AS max_entry_bytes
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_qoi_stats", (s, dir) =>
      Multimodal
        .qoiStats(Multimodal.qoiFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, QOI twin: expected pixels come from
      // TEXT (the BMP/PNG generation rule over 8x5 = 40 px), never
      // from the QOI bytes — the on-disk image is a run/index/delta
      // chunk stream against a running 64-entry hash cache, so a
      // decoder with any op, cache-update, or framing rule wrong
      // cannot agree on a single document
      """WITH px AS (
        |  SELECT doc_id AS media_id, least(120, length(text)) AS l, text,
        |    unnest(generate_series(0, 39)) AS p
        |  FROM documents
        |), chv AS (
        |  SELECT media_id,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST((3*p) % l AS INT) + 1, 1)) % 128 END AS r,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST((3*p+1) % l AS INT) + 1, 1)) % 128 END AS g,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST((3*p+2) % l AS INT) + 1, 1)) % 128 END AS b
        |  FROM px
        |)
        |SELECT media_id, TRUE AS valid, 8 AS width, 5 AS height,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(max(greatest(r, g, b)) AS INT) AS peak,
        |  CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_r,
        |  CAST(sum(g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_g,
        |  CAST(sum(b) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_b,
        |  CAST(sum(299 * r + 587 * g + 114 * b) AS DOUBLE)
        |    / CAST(count(*) * 1000 AS DOUBLE) AS mean_luma
        |FROM chv GROUP BY media_id ORDER BY media_id""".stripMargin),
    Query("q_mulaw_stats", (s, dir) =>
      Multimodal
        .g711Stats(Multimodal.g711FromDocuments(
          Tables.documents(s, dir).orderBy("doc_id"), "mulaw").toDF()),
      // independent derivation, G.711 µ-law: the oracle re-derives the
      // code byte from TEXT (m_i = (c_i·7 + i) mod 256) and expands it
      // through the PUBLISHED G.711 integer recipe in pure SQL bitwise
      // arithmetic — so the decode MATH itself is oracle-checked: a
      // wrong bias, segment shift, or sign convention in the Spark
      // expander cannot agree on a single sample
      """WITH c AS (
        |  SELECT doc_id AS media_id,
        |    list_transform(generate_series(1, least(96, length(text))),
        |      i -> (ascii(substr(text, CAST(i AS INT), 1)) % 128 * 7 + CAST(i - 1 AS INT)) % 256) AS cod
        |  FROM documents
        |), s AS (
        |  SELECT media_id,
        |    list_transform(cod, m -> CASE WHEN (255 - m) >= 128
        |      THEN 132 - ((((255 - m) & 15) * 8 + 132) << (((255 - m) & 112) // 16))
        |      ELSE ((((255 - m) & 15) * 8 + 132) << (((255 - m) & 112) // 16)) - 132 END) AS smp
        |  FROM c
        |)
        |SELECT media_id,
        |  TRUE AS valid, 7 AS fmt_tag, 8000 AS sample_rate,
        |  CAST(len(smp) AS BIGINT) AS n_samples,
        |  CASE WHEN len(smp) > 0
        |    THEN CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) END AS peak_abs,
        |  CASE WHEN len(smp) > 0
        |    THEN CAST(list_sum(smp) AS DOUBLE) / CAST(len(smp) AS DOUBLE) END AS mean_sample,
        |  CASE WHEN len(smp) > 0
        |    THEN sqrt(CAST(list_sum(list_transform(smp, x -> x * x)) AS DOUBLE)
        |              / CAST(len(smp) AS DOUBLE)) END AS rms
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_alaw_stats", (s, dir) =>
      Multimodal
        .g711Stats(Multimodal.g711FromDocuments(
          Tables.documents(s, dir).orderBy("doc_id"), "alaw").toDF()),
      // independent derivation, G.711 A-law twin: same code-byte rule,
      // expanded through the A-law recipe (XOR 0x55 toggle, segment-0/1
      // special cases, inverted sign convention vs µ-law)
      """WITH c AS (
        |  SELECT doc_id AS media_id,
        |    list_transform(generate_series(1, least(96, length(text))),
        |      i -> (ascii(substr(text, CAST(i AS INT), 1)) % 128 * 7 + CAST(i - 1 AS INT)) % 256) AS cod
        |  FROM documents
        |), s AS (
        |  SELECT media_id,
        |    list_transform(cod, m -> CASE
        |      WHEN (xor(m, 85) & 112) // 16 = 0
        |        THEN (CASE WHEN xor(m, 85) >= 128 THEN 1 ELSE -1 END) * ((xor(m, 85) & 15) * 16 + 8)
        |      WHEN (xor(m, 85) & 112) // 16 = 1
        |        THEN (CASE WHEN xor(m, 85) >= 128 THEN 1 ELSE -1 END) * ((xor(m, 85) & 15) * 16 + 264)
        |      ELSE (CASE WHEN xor(m, 85) >= 128 THEN 1 ELSE -1 END)
        |        * (((xor(m, 85) & 15) * 16 + 264) << ((xor(m, 85) & 112) // 16 - 1)) END) AS smp
        |  FROM c
        |)
        |SELECT media_id,
        |  TRUE AS valid, 6 AS fmt_tag, 8000 AS sample_rate,
        |  CAST(len(smp) AS BIGINT) AS n_samples,
        |  CASE WHEN len(smp) > 0
        |    THEN CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) END AS peak_abs,
        |  CASE WHEN len(smp) > 0
        |    THEN CAST(list_sum(smp) AS DOUBLE) / CAST(len(smp) AS DOUBLE) END AS mean_sample,
        |  CASE WHEN len(smp) > 0
        |    THEN sqrt(CAST(list_sum(list_transform(smp, x -> x * x)) AS DOUBLE)
        |              / CAST(len(smp) AS DOUBLE)) END AS rms
        |FROM s ORDER BY media_id""".stripMargin),
    Query("q_gif_stats", (s, dir) =>
      Multimodal
        .gifStats(Multimodal.gifFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, GIF twin: expected pixels come from
      // TEXT through the palette rule (index i -> rgb (i, 2i%256,
      // 3i%256)), never from the GIF bytes — the on-disk image is
      // LZW-coded sub-blocks behind a color table, so a decoder with
      // the bit order, dictionary growth, or palette resolution wrong
      // cannot agree on a single document
      """WITH px AS (
        |  SELECT doc_id AS media_id, least(35, length(text)) AS l, text,
        |    unnest(generate_series(0, 34)) AS p
        |  FROM documents
        |), chv AS (
        |  SELECT media_id,
        |    CASE WHEN l = 0 THEN 0 ELSE ascii(substr(text, CAST(p % l AS INT) + 1, 1)) % 128 END AS i
        |  FROM px
        |)
        |SELECT media_id, TRUE AS valid, 7 AS width, 5 AS height,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(max(greatest(i, (2*i) % 256, (3*i) % 256)) AS INT) AS peak,
        |  CAST(sum(i) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_r,
        |  CAST(sum((2*i) % 256) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_g,
        |  CAST(sum((3*i) % 256) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_b,
        |  CAST(sum(299 * i + 587 * ((2*i) % 256) + 114 * ((3*i) % 256)) AS DOUBLE)
        |    / CAST(count(*) * 1000 AS DOUBLE) AS mean_luma
        |FROM chv GROUP BY media_id ORDER BY media_id""".stripMargin),
    Query("q_jpeg_stats", (s, dir) =>
      Multimodal
        .jpegStats(Multimodal.jpegFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      // independent derivation, JPEG: expected pixels come from TEXT
      // (one uniform 8x8 block per leading char, v=((c&0x7f)*7+j)%256,
      // rows padded to 8 blocks with v=128) — the bytes on disk are
      // real entropy-coded baseline JPEG (Huffman DC categories, DC
      // prediction, byte stuffing), and the all-ones quantizer makes
      // flat blocks decode EXACTLY, so a decoder with the Huffman
      // build, extend rule, dequant, or IDCT wrong cannot agree
      """WITH s AS (
        |  SELECT doc_id AS media_id, least(64, length(text)) AS l, text FROM documents
        |), b AS (
        |  SELECT media_id, l, text,
        |    CASE WHEN l = 0 THEN 8 ELSE ((l + 7) // 8) * 8 END AS nb
        |  FROM s
        |), blk AS (
        |  SELECT media_id, nb,
        |    CASE WHEN j < l
        |      THEN ((ascii(substr(text, CAST(j + 1 AS INT), 1)) % 128) * 7 + j) % 256
        |      ELSE 128 END AS v
        |  FROM b, unnest(generate_series(0, nb - 1)) AS u(j)
        |)
        |SELECT media_id, TRUE AS valid, 64 AS width,
        |  CAST(max(nb) AS INT) AS height,
        |  CAST(count(*) * 64 AS BIGINT) AS n_px,
        |  CAST(max(v) AS INT) AS peak,
        |  CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_r,
        |  CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_g,
        |  CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_b,
        |  CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_luma
        |FROM blk GROUP BY media_id ORDER BY media_id""".stripMargin),
    Query("q_binary_entropy", (s, dir) =>
      Multimodal
        .byteStats(Multimodal.mediaFromDocuments(
          Tables.documents(s, dir).orderBy("doc_id")).toDF()),
      """WITH b AS (
        |  SELECT doc_id, ascii(substr(text, CAST(i AS INT), 1)) AS byte
        |  FROM documents, unnest(generate_series(1, strlen(text))) AS u(i)
        |), h AS (
        |  SELECT doc_id, byte, count(*) AS c FROM b GROUP BY 1, 2
        |), h2 AS (
        |  SELECT doc_id, byte, c, max(c) OVER (PARTITION BY doc_id) AS cmax FROM h
        |)
        |SELECT doc_id AS media_id,
        |  CAST(sum(c) AS BIGINT) AS n_bytes,
        |  CAST(count(*) AS INT) AS distinct_bytes,
        |  CAST(min(CASE WHEN c = cmax THEN byte END) AS INT) AS top_byte,
        |  CAST(max(c) AS BIGINT) AS top_count,
        |  round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
        |FROM h2 GROUP BY doc_id ORDER BY media_id""".stripMargin),
    Query("q_binary_chunks", (s, dir) =>
      Multimodal
        .chunkDedupStats(Multimodal.mediaFromDocuments(
          Tables.documents(s, dir)).toDF())
        .orderBy("media_id"),
      """WITH ch AS (
        |  SELECT doc_id, md5(substr(text, CAST(i AS INT) * 64 + 1, 64)) AS ch
        |  FROM documents, unnest(generate_series(0, (strlen(text) - 1) // 64)) AS u(i)
        |), reg AS (
        |  SELECT ch, count(DISTINCT doc_id) AS docs_with FROM ch GROUP BY ch
        |)
        |SELECT ch.doc_id AS media_id,
        |  count(*) AS n_chunks,
        |  CAST(count(DISTINCT ch.ch) AS BIGINT) AS distinct_chunks,
        |  CAST(sum(CASE WHEN reg.docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_chunks
        |FROM ch JOIN reg ON ch.ch = reg.ch
        |GROUP BY ch.doc_id ORDER BY media_id""".stripMargin),
    Query("q_binary_magic", (s, dir) =>
      Multimodal
        .sniffFormat(Multimodal.mediaWithHeaders(Tables.documents(s, dir)))
        .orderBy("media_id"),
      // q_binary_magic's oracle derives the expected label from the
      // header-ASSIGNMENT rule (doc_id mod 5 picks the magic), where
      // the Spark side detects it from the payload BYTES — an
      // independent derivation, so a broken sniffer cannot agree with
      // the oracle by construction
      """WITH m AS (
        |  SELECT doc_id AS media_id, doc_id % 5 AS h,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS body
        |  FROM documents
        |)
        |SELECT media_id,
        |  CASE h WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
        |         WHEN 3 THEN 'pdf' ELSE 'zip' END AS fmt,
        |  body + CASE h WHEN 0 THEN 8 WHEN 1 THEN 3 WHEN 2 THEN 6
        |              WHEN 3 THEN 5 ELSE 4 END AS n_bytes,
        |  body AS body_bytes
        |FROM m ORDER BY media_id""".stripMargin),
    Query("q_binary_neardup", (s, dir) =>
      Multimodal
        .binaryNearDup(Multimodal.mediaFromDocuments(Tables.documents(s, dir)).toDF())
        .orderBy("media_a", "media_b"),
      // payload == text bytes (pure-ASCII corpus, asserted in
      // MultimodalSpec), so substr sees exactly the binary slices
      """WITH chunks AS (
        |  SELECT doc_id, md5(substr(text, CAST(ci * 8 + 1 AS INT), 8)) AS t
        |  FROM documents, unnest(generate_series(0, CAST(floor((strlen(text) - 1) / 8) AS BIGINT))) AS u(ci)
        |), h AS (
        |  SELECT doc_id, CAST('0x' || substr(t, 1, 15) AS BIGINT) AS h FROM chunks
        |), bits AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
        |  GROUP BY 1, 2
        |), sims AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh
        |  FROM bits GROUP BY doc_id
        |), banded AS (
        |  SELECT doc_id, sh, b AS band, (sh >> (12 * b)) & 4095 AS bv
        |  FROM sims CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS b) bb
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sh AS ha, b.sh AS hb
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        |)
        |SELECT da AS media_a, db AS media_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS dist
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 4
        |ORDER BY media_a, media_b""".stripMargin)
  )

  /** `s`: each document as media, its first 512 characters counted in `n`. */
  private def mediaText(margin: String): String = margined(margin, Seq(
    "WITH s AS (",
    "  SELECT doc_id AS media_id, least(512, length(text)) AS n, text",
    "  FROM documents",
    ")"))
}
