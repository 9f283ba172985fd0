package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, ExpectsInputTypes, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** graft's per-row kernels as codegen'd Catalyst expressions: the
  * whole fold of a dedup hash, text clean, BPE census or payload
  * decode runs per row inside the scan stage, so the 100 TB corpus
  * never shuffles raw tokens or bytes — output is one row per input.
  *
  * The kernels themselves are static methods of [[GraftHashOps]].
  * [[KernelTable]] declares, once each, every kernel that is a single
  * static call on one input column plus literal parameters: its SQL
  * name, method, input and result types and nullability. One
  * expression, [[KernelExpr]], serves every row; its generated code is
  * the row's static call (never CodegenFallback, so the stage stays
  * inside whole-stage codegen) and its interpreted path invokes the
  * same method, resolved by name. A kernel keeps its own expression
  * class only when the expression must do more than forward the call:
  * [[DotProduct]] (ANSI-aware multiply mode), [[MinHashSig]] (its SQL
  * form fixes the parameters), [[LshBucket]], [[IvfAssign]] and
  * [[IvfAssignNested]] (input checks, type-derived arguments,
  * referenced centroids); the aggregates live in their own files.
  *
  * Semantics are bit-identical to the composed plans in
  * graft.operators.Dedup / Similarity (asserted in
  * DedupSimilaritySpec), which is also what the SQL oracles check.
  */
object GraftHashOps {

  private val md5tl: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 4 digest bytes as the unsigned big-endian int that
    * `CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)` yields in SQL.
    */
  private def lane(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
      ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)

  /** One-pass clean/normalize, bit-identical to
    * trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9 ]", ""), " +", " ")):
    * lower-case via UTF8String.toLowerCase (the exact method Spark's
    * Lower uses), then a single byte pass that drops every byte
    * outside [a-z0-9 ], emits at most one space between kept runs,
    * and never emits leading/trailing spaces. Byte-wise filtering is
    * char-exact on UTF-8: every byte of a multi-byte character is
    * >= 0x80, so dropping non-[a-z0-9 ] bytes removes exactly the
    * characters the regex removes, and the output is pure ASCII.
    *
    * Exists because chained java.util.regex passes are the wrong
    * shape for a scan-stage hot path: per-position Matcher machinery
    * measured ~16x slower per char than this loop, and on the bench
    * host's JVM concurrent regex tasks collapse a further ~20x
    * (thread-scaling pathology reproduced in a Spark-free
    * microbench) — a single branchy byte loop has neither problem.
    */
  def cleanText(input: UTF8String): UTF8String = {
    val b   = input.toLowerCase.getBytes
    val out = new Array[Byte](b.length)
    var i = 0
    var o = 0
    var pendingSpace = false
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = c
        o += 1
      } else if (c == ' ') pendingSpace = true
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** Gear-hash CDC cut positions (1-based, ascending) of a text —
    * bit-identical to the interpreted Catalyst HOF fold it replaced
    * (aggregate over transform(sequence(1, length(text)),
    * i -> ascii(substr(text, i, 1)))), which DedupSimilaritySpec pins
    * against this kernel. Per character c (codepoint, exactly what
    * ascii(substr) yields): gear(c) = (c * 2654435761) mod 2^32,
    * h <- (h*2 + gear(c)) mod 2^32 seeded with gear(first char); a
    * cut fires at position p (1-based) when p - lastCut >= minLen and
    * h % mask == 0, resetting h to 0. The empty-text quirk of the HOF
    * (sequence(1,0) = [1,0], so TWO zero codes and position 2 is
    * testable) is reproduced so the kernel is a drop-in at ANY
    * mask/minLen, not just the operator's defaults.
    *
    * Exists because the HOF fold is interpreted (HigherOrderFunction
    * is CodegenFallback): per-char struct allocation measured ~3 us/
    * char — a 4.4 s single-task stage on the 1.5 M-char bench corpus
    * vs a plain long-register loop here.
    */
  def cdcBounds(input: UTF8String, mask: Long, minLen: Int): ArrayData = {
    val gearMul = 2654435761L
    val m32     = 4294967296L
    val s       = input.toString
    val cps: Array[Int] =
      if (s.isEmpty) Array(0, 0) // sequence(1,0) = [1,0]; ascii('') = 0
      else {
        val buf = new scala.collection.mutable.ArrayBuilder.ofInt
        buf.sizeHint(s.length)
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          buf += cp
          i += Character.charCount(cp)
        }
        buf.result()
      }
    var h      = (cps(0).toLong * gearMul) % m32
    var last   = 0
    val bounds = new scala.collection.mutable.ArrayBuilder.ofInt
    var k = 1
    while (k < cps.length) {
      val h2   = (h * 2 + (cps(k).toLong * gearMul) % m32) % m32
      val pos2 = k + 1
      if (pos2 - last >= minLen && h2 % mask == 0) {
        h = 0L; last = pos2; bounds += pos2
      } else h = h2
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bounds.result())
  }

  /** Space-joined word n-grams of a token array (`graft_word_ngrams`),
    * bit-identical to the zip_with/filter HOF chain in
    * TextFunctions.ngramsHof: window i (0-based) joins toks[i..i+n-1]
    * with single spaces in one pass over a shared byte builder,
    * windows containing a null token are dropped (the HOF's
    * when(isNotNull, ...) + filter), n = 1 returns the input array
    * unchanged (the HOF's empty fold). TextAnalysisSpec pins the
    * equivalence. The HOF chain is interpreted (n-1 zip_with passes +
    * filters per row) and fed the shingle scans of the whole dedup
    * family — q_containment's plan ran three concurrent copies of it
    * at ~2.8 s each on the sf0.1 corpus.
    */
  def wordNgrams(toks: ArrayData, n: Int): ArrayData = {
    if (n < 1) throw new IllegalArgumentException(s"graft_word_ngrams: n must be positive: $n")
    if (n == 1) return toks
    val len = toks.numElements()
    val out = new java.util.ArrayList[UTF8String](math.max(len - n + 1, 0))
    var i = 0
    while (i + n <= len) {
      var ok = true
      var j = i
      while (ok && j < i + n) { if (toks.isNullAt(j)) ok = false; j += 1 }
      if (ok) {
        var g = toks.getUTF8String(i)
        var k = i + 1
        while (k < i + n) {
          g = UTF8String.concat(g, SpaceUtf8, toks.getUTF8String(k))
          k += 1
        }
        out.add(g)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  private val SpaceUtf8 = UTF8String.fromString(" ")

  /** EMA(adjust=False) series over an array<double> (`graft_ema_arr`),
    * bit-identical to the seeded strict-left-fold HOF it replaces,
    * aggregate(slice(src,2,n-1), array(src[0]),
    *           (acc,x) => concat(acc, array(oma*acc[-1] + a*x))):
    * e(0) = src(0), e(i) = (1-a)*e(i-1) + a*src(i) with the SAME IEEE
    * operand order ((oma*prev) + (a*x)), prev carried as a nullable
    * box so a null element poisons the tail exactly like the HOF's
    * null arithmetic. TimeSeriesSpec pins the equivalence. The HOF
    * shape is interpreted AND quadratic (concat copies the prefix
    * array per element): a 500-day per-key series paid ~125k array
    * copies per smoothing — trix/tsi chain three to four of them.
    */
  def emaArrSeries(src: ArrayData, a: Double): ArrayData = {
    val n = src.numElements()
    if (n == 0)
      throw new IllegalArgumentException(
        "graft_ema_arr: empty series (the HOF fold's seed indexes element 1)")
    val oma = 1 - a
    val out = new Array[Any](n)
    var prevNull = src.isNullAt(0)
    var prev     = if (prevNull) 0.0 else src.getDouble(0)
    out(0) = if (prevNull) null else java.lang.Double.valueOf(prev)
    var i = 1
    while (i < n) {
      if (prevNull || src.isNullAt(i)) { prevNull = true; out(i) = null }
      else {
        prev = oma * prev + a * src.getDouble(i)
        out(i) = java.lang.Double.valueOf(prev)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Cumulative-sum series fold (`graft_cumsum_arr`): y += x in
    * element order, null-poisoning like the HOF.
    */
  def cumSumSeries(src: ArrayData): ArrayData = {
    val n = src.numElements()
    if (n == 0)
      throw new IllegalArgumentException(
        "graft_cumsum_arr: empty series (the HOF fold's seed indexes element 1)")
    val out = new Array[Any](n)
    var prevNull = src.isNullAt(0)
    var prev     = if (prevNull) 0.0 else src.getDouble(0)
    out(0) = if (prevNull) null else java.lang.Double.valueOf(prev)
    var i = 1
    while (i < n) {
      if (prevNull || src.isNullAt(i)) { prevNull = true; out(i) = null }
      else {
        prev = prev + src.getDouble(i)
        out(i) = java.lang.Double.valueOf(prev)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Sequential-fold dot product over two ArrayData; null (boxed)
    * exactly where the zip_with/aggregate HOF chain is null — length
    * mismatch or a null element (see DotProduct). `mode` encodes the
    * RESOLVED element types so each path reproduces the HOF's
    * arithmetic exactly: 0 = double·double (double multiply), 1 =
    * long·long (exact long multiply, widened into the double
    * accumulator; overflow throws loudly — Spark 4 runs ANSI mode,
    * where the HOF's `times` raises ARITHMETIC_OVERFLOW), 2 = left
    * long · right double, 3 = left double · right long (the mixed
    * sides widen to double before the multiply, Catalyst's implicit
    * promotion).
    */
  def dotSeq(a: ArrayData, b: ArrayData, mode: Int): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += (mode match {
        case 0 => a.getDouble(i) * b.getDouble(i)
        case 1 => Math.multiplyExact(a.getLong(i), b.getLong(i)).toDouble
        case 2 => a.getLong(i).toDouble * b.getDouble(i)
        case 3 => a.getDouble(i) * b.getLong(i).toDouble
        // mode 4: non-ANSI long·long — the HOF's multiply WRAPS there
        case _ => (a.getLong(i) * b.getLong(i)).toDouble
      })
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** MinHash signature with ONE md5 per distinct shingle: the 128-bit
    * digest provides two 32-bit lanes (h1, h2) and permutation j's
    * value is (h1 + j*h2) mod 2^32 — the classic Carter–Wegman
    * multi-hash, reproducible in any SQL engine as
    * (CAST('0x'||substr(md5(s),1,8) AS BIGINT)
    *  + j * CAST('0x'||substr(md5(s),9,8) AS BIGINT)) % 4294967296.
    * Returns null when the text has fewer than n tokens.
    */
  def minhashSig(input: UTF8String, k: Int, n: Int): ArrayData = {
    val toks = input.toString.toLowerCase.split(" ", -1)
    if (toks.length < n) return null
    val seen = new java.util.HashSet[String]()
    val md   = md5tl.get()
    val mins = Array.fill(k)(Long.MaxValue)
    val sb   = new java.lang.StringBuilder(64)
    var i    = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var t = 0
      while (t < n) {
        if (t > 0) sb.append(' ')
        sb.append(toks(i + t))
        t += 1
      }
      val sh = sb.toString
      if (seen.add(sh)) {
        md.reset()
        val d  = md.digest(sh.getBytes("UTF-8"))
        val h1 = lane(d, 0)
        val h2 = lane(d, 4)
        var j  = 0
        while (j < k) {
          val v = (h1 + j * h2) & 0xffffffffL
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** 60-bit SimHash over the token multiset; token hash = first 15
    * hex chars of md5 parsed base-16 (computed straight from the
    * digest bytes — identical to conv(substr(md5(t),1,15),16,10)).
    */
  def simhash60(input: UTF8String): Long = {
    val toks     = input.toString.toLowerCase.split(" ", -1)
    val md       = md5tl.get()
    val counters = new Array[Int](60)
    var i        = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes("UTF-8"))
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      h = (h << 4) | ((d(7) >> 4) & 0xfL) // hex chars 0..14 = 7.5 bytes
      b = 0
      while (b < 60) {
        if (((h >> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b   = 0
    while (b < 60) { if (counters(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** 120-bit SimHash as two 60-bit lanes from ONE md5 per token:
    * lane 0 = hex chars 1-15 (bit-identical to [[simhash60]]), lane
    * 1 = hex chars 16-30 — both reproducible in SQL as
    * conv(substr(md5(t), off, 15), 16, 10). The wide signature
    * exists for BANDING HEADROOM at corpus scale: equal-width bands
    * over 120 bits are wider than over 60 at the same pigeonhole
    * guarantee, so each band has exponentially more values and the
    * bucket-saturation point (where within-bucket candidates go
    * quadratic — measured 19.6x at x10 on the 12-bit bands) moves
    * out accordingly: the shipped 20-wide bands
    * (Dedup.simhashNearDupPairsWide, widths must divide 60) give
    * 2^8 = 256x the 12-wide bucket space. One digest serves both
    * lanes, so the per-token cost equals the 60-bit version's.
    */
  def simhash120(input: UTF8String): ArrayData = {
    val toks     = input.toString.toLowerCase.split(" ", -1)
    val md       = md5tl.get()
    val counters = new Array[Int](120)
    var i        = 0
    while (i < toks.length) {
      md.reset()
      val d  = md.digest(toks(i).getBytes("UTF-8"))
      var h1 = 0L
      var b  = 0
      while (b < 7) { h1 = (h1 << 8) | (d(b) & 0xffL); b += 1 }
      h1 = (h1 << 4) | ((d(7) >> 4) & 0xfL) // hex chars 0..14 = 7.5 bytes
      var h2 = d(7) & 0xfL                  // hex char 15 = low nibble of byte 7
      b = 8
      while (b < 15) { h2 = (h2 << 8) | (d(b) & 0xffL); b += 1 }
      b = 0
      while (b < 60) {
        if (((h1 >> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        if (((h2 >> b) & 1L) == 1L) counters(60 + b) += 1 else counters(60 + b) -= 1
        b += 1
      }
      i += 1
    }
    val out = new Array[Long](2)
    var b   = 0
    while (b < 60) {
      if (counters(b) > 0) out(0) |= (1L << b)
      if (counters(60 + b) > 0) out(1) |= (1L << b)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Signed random-hyperplane directions for (planes x dim), derived
    * from md5(p":"i) first-hex-char parity — deterministic, no stored
    * model. The (planes, dim) space is tiny, so directions are
    * computed once per JVM and cached; per row the projection is a
    * pure in-register fold.
    */
  private val dirCache = new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]()

  private def dirs(planes: Int, dim: Int): Array[Double] = {
    val key = planes.toLong << 32 | dim.toLong
    var d   = dirCache.get(key)
    if (d == null) {
      val md  = md5tl.get()
      val arr = new Array[Double](planes * dim)
      var p   = 0
      while (p < planes) {
        var i = 0
        while (i < dim) {
          md.reset()
          val dig  = md.digest((p.toString + ":" + i.toString).getBytes("UTF-8"))
          val even = ((dig(0) >> 4) & 1) == 0 // first hex char parity
          arr(p * dim + i) = if (even) 1.0 else -1.0
          i += 1
        }
        p += 1
      }
      dirCache.putIfAbsent(key, arr)
      d = arr
    }
    d
  }

  /** Feature-hash text embedding (hashing trick): token -> md5 ->
    * bucket lane1 % dim, sign from hex char 9 parity — identical to
    * the composed higher-order-function fold in
    * operators/Embedding.featureHashVec and to the SQL oracle's
    * md5-substring arithmetic. One md5 per token, one output array
    * per row, zero shuffle.
    */
  def featureHash(input: UTF8String, dim: Int): ArrayData = {
    val toks = input.toString.toLowerCase.split(" ", -1)
    val md   = md5tl.get()
    val v    = new Array[Double](dim)
    var i    = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes("UTF-8"))
      val b = (lane(d, 0) % dim).toInt
      // hex char 9 = high nibble of byte 4; its parity is the sign
      val sg = if ((((d(4) >> 4) & 0xf) & 1) == 0) 1.0 else -1.0
      v(b) += sg
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(v)
  }

  /** Nearest-centroid cell id for one embedding: squared-L2 against
    * every centroid (flattened row-major, nlist x dim), ties to the
    * LOWEST cell id. The d2 accumulation is sequential in element
    * order and the scan ascends cell ids with a strict `<`, so the
    * result is bit-identical to the interpreted HOF argmin
    * (array_min over struct(d2, cell)) it replaces: same sums, same
    * lexicographic tie-break. Per row this is nlist*dim fused flops
    * inside whole-stage codegen — the 65x-slower interpreted
    * transform/aggregate fold never runs on the corpus scan.
    */
  def ivfAssign(v: ArrayData, cents: Array[Double], dim: Int, checkNulls: Boolean): Int = {
    // dim is the TRUE centroid dimension (cents.length / nlist), not
    // a factorization guess from the row: a vector of any other
    // length fails loudly instead of silently argmin-ing a garbage
    // (nlist', dim') reslicing of the flat table
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"graft_ivf_assign: vector has ${v.numElements()} elements, centroids have dim $dim")
    if (checkNulls) {
      // only reached when the array schema admits nulls — getDouble
      // would read a null slot as 0.0 and corrupt the distance
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i))
          throw new IllegalArgumentException(
            s"graft_ivf_assign: embedding contains a null element at index $i")
        i += 1
      }
    }
    val nlist    = cents.length / dim
    var best     = Double.PositiveInfinity
    var bestCell = -1
    var c        = 0
    while (c < nlist) {
      var d2   = 0.0
      val base = c * dim
      var i    = 0
      while (i < dim) {
        val d = v.getDouble(i) - cents(base + i)
        d2 += d * d
        i += 1
      }
      if (d2 < best) { best = d2; bestCell = c }
      c += 1
    }
    bestCell
  }

  /** Nearest-centroid index for one embedding against a PER-ROW
    * centroid table (array<array<double>>, position = centroid id) —
    * the column-input twin of [[ivfAssign]] for the two-level celled
    * assignment, where the fine centroids arrive via a join instead
    * of a plan literal (they stay distributed; only the coarse table
    * is a driver-collected literal). Same kernel contract: d2
    * accumulates in ascending element order, the scan ascends
    * centroid positions with a strict `<`, so ties break to the
    * LOWEST index — bit-identical to the interpreted HOF argmin and
    * to the oracle's `row_number() ... ORDER BY d2 ASC, fidx ASC`.
    */
  def ivfAssignNested(v: ArrayData, fcs: ArrayData, checkNulls: Boolean): Int = {
    val dim = v.numElements()
    val nf  = fcs.numElements()
    if (nf == 0)
      throw new IllegalArgumentException("graft_ivf_assign_nested: empty centroid table")
    if (checkNulls) {
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i))
          throw new IllegalArgumentException(
            s"graft_ivf_assign_nested: embedding contains a null element at index $i")
        i += 1
      }
    }
    var best  = Double.PositiveInfinity
    var bestI = -1
    var c     = 0
    while (c < nf) {
      if (checkNulls && fcs.isNullAt(c))
        throw new IllegalArgumentException(
          s"graft_ivf_assign_nested: centroid $c is null")
      val fc = fcs.getArray(c)
      if (fc.numElements() != dim)
        throw new IllegalArgumentException(
          s"graft_ivf_assign_nested: vector has $dim elements, centroid $c has ${fc.numElements()}")
      var d2 = 0.0
      var i  = 0
      while (i < dim) {
        val x = v.getDouble(i) - fc.getDouble(i)
        d2 += x * x
        i += 1
      }
      if (d2 < best) { best = d2; bestI = c }
      c += 1
    }
    bestI
  }

  /** All `planes` hyperplane sign bits of one embedding in a single
    * per-row pass: bucket bit p = (sum_i v(i) * dir(p,i)) > 0. Zero
    * shuffle — the 100 TB replacement for the exploded-plan variant.
    */
  def lshBucket(v: ArrayData, planes: Int, floatElems: Boolean): Long = {
    val dim = v.numElements()
    val ds  = dirs(planes, dim)
    var bucket = 0L
    var p      = 0
    while (p < planes) {
      var proj = 0.0
      val base = p * dim
      var i    = 0
      while (i < dim) {
        val x = if (floatElems) v.getFloat(i).toDouble else v.getDouble(i)
        proj += x * ds(base + i)
        i += 1
      }
      if (proj > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  private val LN2 = math.log(2.0)

  /** REAL (non-stub) RIFF/WAVE PCM decode for `graft_wav_stats`: strict
    * header parse (RIFF/WAVE/fmt /data magics, PCM format code 1,
    * 16-bit mono layout checks) followed by one linear pass over the
    * little-endian int16 samples accumulating EXACT integers — count,
    * peak |s|, Σs, Σs² (s² ≤ 2^30, so Σs² stays far inside int64 for
    * any realistic clip). Malformed payloads return valid=false with
    * zeroed fields instead of null, keeping the expression total and
    * codegen-friendly. WAV-PCM is decodable with no codec library —
    * the honest line between this and the declared compressed-format
    * stubs.
    */
  def wavPcmStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    def le16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
        ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
    def magic(o: Int, s: String): Boolean =
      payload.length >= o + 4 && s.indices.forall(i => payload(o + i) == s.charAt(i).toByte)
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0, 0, 0L, 0, 0L, 0L))
    if (payload.length < 44 ||
      !magic(0, "RIFF") || !magic(8, "WAVE") || !magic(12, "fmt ") || !magic(36, "data"))
      return bad
    val fmtSize    = le32(16)
    val audioFmt   = le16(20)
    val nChannels  = le16(22)
    val sampleRate = le32(24).toInt
    val blockAlign = le16(32)
    val bits       = le16(34)
    val dataSize   = le32(40)
    // mono only, as documented: interleaved multi-channel frames
    // would silently double n_samples and mix channels into the
    // moments — reject rather than mislead
    if (fmtSize != 16L || audioFmt != 1 || bits != 16 ||
      nChannels != 1 || blockAlign != nChannels * 2 ||
      dataSize % 2 != 0 || 44L + dataSize > payload.length) return bad
    val n = (dataSize / 2).toInt
    var i = 0
    var peak = 0
    var s    = 0L
    var sq   = 0L
    while (i < n) {
      val v = le16(44 + 2 * i).toShort.toInt
      val a = math.abs(v)
      if (a > peak) peak = a
      s += v
      sq += v.toLong * v
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, sampleRate, nChannels, bits, n.toLong, peak, s, sq))
  }

  /** ITU-T G.711 µ-law byte -> 16-bit linear PCM (the canonical
    * CCITT expansion: complement, 3-bit exponent segment, 4-bit
    * mantissa, 0x84 bias). Output range ±32124. Pure integer math —
    * the SQL oracle re-derives the identical value per sample with
    * bitwise arithmetic, so the decode itself is oracle-checked.
    */
  def mulawToLinear(u: Int): Int = {
    val x = ~u & 0xff
    var t = ((x & 0x0f) << 3) + 0x84
    t <<= (x & 0x70) >> 4
    if ((x & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU-T G.711 A-law byte -> 16-bit linear PCM (the canonical
    * CCITT expansion: XOR 0x55 toggle-mask, segment/mantissa split,
    * segment-0/1 special cases). Output range ±32256, sign bit SET
    * means positive (the A-law convention, opposite of µ-law).
    */
  def alawToLinear(a: Int): Int = {
    val x   = (a ^ 0x55) & 0xff
    val seg = (x & 0x70) >> 4
    var t   = (x & 0x0f) << 4
    if (seg == 0) t += 8
    else if (seg == 1) t += 0x108
    else t = (t + 0x108) << (seg - 1)
    if ((x & 0x80) != 0) t else -t
  }

  /** REAL (non-stub) COMPRESSED-audio decode for `graft_g711_stats`:
    * strict RIFF/WAVE parse of the canonical non-PCM layout (18-byte
    * fmt chunk with cbSize=0, a fact chunk whose sample count must
    * agree with the data size, 8-bit mono at block align 1), format
    * tag 7 (µ-law) or 6 (A-law), then ONE linear pass expanding each
    * log-companded byte through the G.711 tables above and
    * accumulating EXACT integers — count, peak |s|, Σs, Σs²
    * (|s| ≤ 32256 so Σs² stays far inside int64). G.711 is a real
    * ITU codec (2:1 telephony compression) decodable with zero codec
    * libraries — the first compressed AUDIO format past the declared
    * stub line. The expansion is pure integer math, so the SQL
    * oracle re-derives every decoded sample bitwise — the decode
    * itself is oracle-checked, not just the container parse.
    * Malformed payloads return valid=false with zeroed fields; the
    * expression is total and codegen-friendly.
    */
  def g711Stats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    def le16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
        ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
    def magic(o: Int, s: String): Boolean =
      payload.length >= o + 4 && s.indices.forall(i => payload(o + i) == s.charAt(i).toByte)
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0, 0L, 0, 0L, 0L))
    if (payload.length < 58 ||
      !magic(0, "RIFF") || !magic(8, "WAVE") || !magic(12, "fmt ") ||
      !magic(38, "fact") || !magic(50, "data")) return bad
    val fmtSize    = le32(16)
    val fmtTag     = le16(20)
    val nChannels  = le16(22)
    val sampleRate = le32(24).toInt
    val blockAlign = le16(32)
    val bits       = le16(34)
    val cbSize     = le16(36)
    val factSize   = le32(42)
    val factN      = le32(46)
    val dataSize   = le32(54)
    // one code byte per sample, mono: any other layout would fold
    // channels into the moments — reject rather than mislead
    // strict end-of-payload framing, like the QOI/deflate/targz
    // twins: the data chunk must END the file (no trailing garbage),
    // and the RIFF chunk size at offset 4 must account for every
    // byte after the 8-byte RIFF header
    if (fmtSize != 18L || (fmtTag != 7 && fmtTag != 6) || nChannels != 1 ||
      bits != 8 || blockAlign != 1 || cbSize != 0 || factSize != 4L ||
      factN != dataSize || 58L + dataSize != payload.length ||
      le32(4) != payload.length - 8L) return bad
    val n = dataSize.toInt
    var i = 0
    var peak = 0
    var s    = 0L
    var sq   = 0L
    while (i < n) {
      val v =
        if (fmtTag == 7) mulawToLinear(payload(58 + i) & 0xff)
        else alawToLinear(payload(58 + i) & 0xff)
      val a = math.abs(v)
      if (a > peak) peak = a
      s += v
      sq += v.toLong * v
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, fmtTag, sampleRate, n.toLong, peak, s, sq))
  }

  /** REAL (non-stub) uncompressed-BMP (24 bpp) decode for
    * `graft_bmp_stats`: strict BITMAPFILEHEADER/BITMAPINFOHEADER
    * parse (magic, 54-byte data offset, header size 40, 1 plane,
    * 24 bpp, BI_RGB, bounds), then one pass over the pixel array
    * honoring the format's two classic traps — BGR channel order and
    * 4-byte row padding (bottom-up row order is sum-invariant but
    * the stride is not) — accumulating EXACT integers: per-channel
    * sums, channel peak, and the Σ(299R+587G+114B) luma numerator
    * (milli-units, one final IEEE division downstream). Malformed
    * payloads return valid=false, keeping the expression total.
    */
  def bmpPixelStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    def le16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
        ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0, 0L, 0L, 0L, 0L, 0, 0L))
    if (payload.length < 54 || payload(0) != 'B'.toByte || payload(1) != 'M'.toByte)
      return bad
    val dataOff = le32(10)
    val hdrSize = le32(14)
    val width   = le32(18).toInt
    val height  = le32(22).toInt
    val planes  = le16(26)
    val bpp     = le16(28)
    val compr   = le32(30)
    if (dataOff != 54L || hdrSize != 40L || planes != 1 || bpp != 24 || compr != 0L ||
      width <= 0 || height <= 0) return bad
    // stride in 64-bit: width near Int.MaxValue wraps 32-bit width*3
    // to a tiny positive stride that passes the bounds check and the
    // pixel loop then reads past the array — the documented contract
    // is valid=false, never a throw
    val strideL = ((width.toLong * 3 + 3) / 4) * 4
    // divide, don't multiply: strideL*height overflows Long for
    // adversarial ~2^31 x 2^31 headers and a wrapped-negative product
    // would pass the check (height >= 1 is already established)
    if (strideL > (payload.length - 54L) / height) return bad
    val stride = strideL.toInt
    var sr = 0L; var sg = 0L; var sb = 0L; var peak = 0; var luma = 0L
    var y = 0
    while (y < height) {
      val rowOff = 54 + y * stride
      var x = 0
      while (x < width) {
        val o = rowOff + 3 * x
        val b = payload(o) & 0xff       // BGR on disk
        val g = payload(o + 1) & 0xff
        val r = payload(o + 2) & 0xff
        sr += r; sg += g; sb += b
        if (r > peak) peak = r
        if (g > peak) peak = g
        if (b > peak) peak = b
        luma += 299L * r + 587L * g + 114L * b
        x += 1
      }
      y += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, width, height, width.toLong * height, sr, sg, sb, peak, luma))
  }

  /** REAL (non-stub) PNG decode for `graft_png_stats` — the first
    * COMPRESSED format to cross the declared stub line, with zero
    * codec libraries: the zlib layer is `java.util.zip.Inflater`
    * (JDK), the PNG container (signature, chunk framing, CRC-32
    * verification via `java.util.zip.CRC32`, IHDR validation, IDAT
    * concatenation) and all five scanline defilters (None/Sub/Up/
    * Average/Paeth) are implemented here. Strict scope: 8-bit
    * truecolor (color type 2), non-interlaced — anything else, any
    * framing/CRC/inflate error, or a decompressed size other than
    * exactly height·(1+3·width) reports valid=false (total function,
    * never a throw). A raw-size cap (64 MiB) keeps a hostile
    * 100-byte zip bomb from allocating unbounded memory. Accumulates
    * the same EXACT integer moments as the BMP twin: per-channel
    * sums, channel peak, Σ(299R+587G+114B) luma milli-units.
    */
  def pngPixelStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0, 0L, 0L, 0L, 0L, 0, 0L))
    val sig = Array[Int](0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (payload.length < 8) return bad
    var i = 0
    while (i < 8) { if ((payload(i) & 0xff) != sig(i)) return bad; i += 1 }
    def be32(o: Int): Long =
      ((payload(o) & 0xffL) << 24) | ((payload(o + 1) & 0xffL) << 16) |
        ((payload(o + 2) & 0xffL) << 8) | (payload(o + 3) & 0xffL)
    // chunk walk: IHDR first, IDATs concatenated, IEND terminates;
    // every chunk's CRC-32 (over type+data) must verify
    var off    = 8
    var width  = 0
    var height = 0
    var sawIhdr = false
    var sawIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!sawIend) {
      if (off + 12 > payload.length) return bad
      val len = be32(off)
      if (len < 0 || len > payload.length - off - 12) return bad
      val dlen = len.toInt
      val typ = new String(payload, off + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(payload, off + 4, 4 + dlen)
      if (crc.getValue != be32(off + 8 + dlen)) return bad
      typ match {
        case "IHDR" =>
          if (sawIhdr || dlen != 13) return bad
          val w = be32(off + 8)
          val h = be32(off + 12)
          val bitDepth  = payload(off + 16) & 0xff
          val colorType = payload(off + 17) & 0xff
          val compr     = payload(off + 18) & 0xff
          val filterM   = payload(off + 19) & 0xff
          val interlace = payload(off + 20) & 0xff
          if (w <= 0 || h <= 0 || bitDepth != 8 || colorType != 2 ||
            compr != 0 || filterM != 0 || interlace != 0) return bad
          // raw = h*(1 + 3w); cap before any allocation (zip bomb)
          if (h > (67108864L - 1) / (3L * w + 1L)) return bad
          width = w.toInt; height = h.toInt; sawIhdr = true
        case "IDAT" =>
          if (!sawIhdr) return bad
          idat.write(payload, off + 8, dlen)
        case "IEND" =>
          if (!sawIhdr || dlen != 0) return bad
          sawIend = true
        case _ => // ancillary chunks pass through (CRC already verified)
      }
      off += 12 + dlen
    }
    val rawLen = height * (1 + 3 * width)
    val raw    = new Array[Byte](rawLen)
    val inf    = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < rawLen && !inf.finished()) {
        val k = inf.inflate(raw, got, rawLen - got)
        // a zero-byte step on an unfinished stream is truncation or
        // a preset-dictionary demand — either way not a valid PNG
        if (k == 0 && (inf.needsInput() || inf.needsDictionary())) return bad
        got += k
      }
      if (got != rawLen) return bad
      // the stream must END here: a longer plaintext means the IHDR
      // dimensions lie about the pixel data, and a TRUNCATED stream
      // (right byte count but the final-block end-of-stream symbol
      // never reached) is equally invalid — the probe advances the
      // inflater to EOS when the marker is next, so finished() must
      // hold afterwards
      val probe = new Array[Byte](1)
      if (!inf.finished() && inf.inflate(probe, 0, 1) != 0) return bad
      if (!inf.finished()) return bad
    } catch {
      case _: java.util.zip.DataFormatException => return bad
    } finally inf.end()
    // defilter in place, row by row (bpp = 3 for RGB8)
    val rowBytes = 3 * width
    var y = 0
    while (y < height) {
      val base = y * (1 + rowBytes) // filter-type byte leads the row
      val ft   = raw(base) & 0xff
      if (ft > 4) return bad
      var x = 0
      while (x < rowBytes) {
        val o  = base + 1 + x
        val a  = if (x >= 3) raw(o - 3) & 0xff else 0                    // left
        val b  = if (y > 0) raw(o - (1 + rowBytes)) & 0xff else 0        // up
        val c  = if (x >= 3 && y > 0) raw(o - (1 + rowBytes) - 3) & 0xff else 0 // up-left
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case _ => // Paeth
            val p  = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw(o) = ((raw(o) & 0xff) + pred).toByte
        x += 1
      }
      y += 1
    }
    var sr = 0L; var sg = 0L; var sb = 0L; var peak = 0; var luma = 0L
    y = 0
    while (y < height) {
      val base = y * (1 + rowBytes) + 1
      var x = 0
      while (x < width) {
        val o = base + 3 * x
        val r = raw(o) & 0xff
        val g = raw(o + 1) & 0xff
        val b = raw(o + 2) & 0xff
        sr += r; sg += g; sb += b
        if (r > peak) peak = r
        if (g > peak) peak = g
        if (b > peak) peak = b
        luma += 299L * r + 587L * g + 114L * b
        x += 1
      }
      y += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, width, height, width.toLong * height, sr, sg, sb, peak, luma))
  }

  /** REAL QOI decode for `graft_qoi_stats` — the whole codec is
    * implemented HERE (the JDK has no QOI support): the 14-byte
    * header (magic, big-endian dims, channels, colorspace), then the
    * chunk stream per the published QOI spec — OP_RGB/OP_RGBA full
    * literals, OP_INDEX against the 64-entry running hash cache
    * (hash = (3r+5g+7b+11a) mod 64), OP_DIFF 2-bit wrapping deltas,
    * OP_LUMA green-anchored 6/4/4-bit deltas, OP_RUN up to 62 — with
    * the cache updated after every decoded chunk exactly as the
    * reference decoder does. Strict scope: the stream must produce
    * exactly width·height pixels and be followed by exactly the
    * 8-byte end marker at payload end; a run crossing the pixel
    * count, a truncated chunk, or trailing bytes are malformed.
    * Total function: valid=false, never a throw. Accumulates the
    * same exact integer moments as the BMP/PNG/GIF twins (alpha
    * participates in the cache hash but not the moments).
    */
  def qoiPixelStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0, 0L, 0L, 0L, 0L, 0, 0L))
    def u8(o: Int): Int = payload(o) & 0xff
    if (payload.length < 14 + 8) return bad
    if (u8(0) != 'q' || u8(1) != 'o' || u8(2) != 'i' || u8(3) != 'f') return bad
    def be32(o: Int): Long =
      ((payload(o) & 0xffL) << 24) | ((payload(o + 1) & 0xffL) << 16) |
        ((payload(o + 2) & 0xffL) << 8) | (payload(o + 3) & 0xffL)
    val w = be32(4)
    val h = be32(8)
    val channels   = u8(12)
    val colorspace = u8(13)
    if (w <= 0 || h <= 0 || (channels != 3 && channels != 4) || colorspace > 1) return bad
    if (h > 16777216L / w) return bad // pixel-count cap before any work
    val nPix = (w * h).toInt
    // running state: previous pixel and the 64-entry RGBA hash cache
    var pr = 0; var pg = 0; var pb = 0; var pa = 255
    val idx = new Array[Int](256) // 64 entries x 4 channels, flat
    var off  = 14
    var nOut = 0
    var sr = 0L; var sg = 0L; var sb = 0L; var peak = 0; var luma = 0L
    def acc(n: Int): Unit = {
      sr += pr.toLong * n; sg += pg.toLong * n; sb += pb.toLong * n
      if (pr > peak) peak = pr
      if (pg > peak) peak = pg
      if (pb > peak) peak = pb
      luma += (299L * pr + 587L * pg + 114L * pb) * n
    }
    while (nOut < nPix) {
      if (off >= payload.length - 8) return bad // chunk would eat the end marker
      val b0 = u8(off)
      if (b0 == 0xfe) { // OP_RGB
        if (off + 4 > payload.length - 8) return bad
        pr = u8(off + 1); pg = u8(off + 2); pb = u8(off + 3)
        off += 4; acc(1); nOut += 1
      } else if (b0 == 0xff) { // OP_RGBA
        if (off + 5 > payload.length - 8) return bad
        pr = u8(off + 1); pg = u8(off + 2); pb = u8(off + 3); pa = u8(off + 4)
        off += 5; acc(1); nOut += 1
      } else (b0 >> 6) match {
        case 0 => // OP_INDEX
          val i = (b0 & 0x3f) * 4
          pr = idx(i); pg = idx(i + 1); pb = idx(i + 2); pa = idx(i + 3)
          off += 1; acc(1); nOut += 1
        case 1 => // OP_DIFF, 2-bit deltas biased by 2, wrapping
          pr = (pr + ((b0 >> 4) & 3) - 2) & 0xff
          pg = (pg + ((b0 >> 2) & 3) - 2) & 0xff
          pb = (pb + (b0 & 3) - 2) & 0xff
          off += 1; acc(1); nOut += 1
        case 2 => // OP_LUMA, green-anchored deltas, wrapping
          if (off + 2 > payload.length - 8) return bad
          val dg = (b0 & 0x3f) - 32
          val b1 = u8(off + 1)
          pr = (pr + dg + ((b1 >> 4) & 0xf) - 8) & 0xff
          pg = (pg + dg) & 0xff
          pb = (pb + dg + (b1 & 0xf) - 8) & 0xff
          off += 2; acc(1); nOut += 1
        case _ => // OP_RUN: 1..62 repeats of the previous pixel
          val run = (b0 & 0x3f) + 1
          if (run > 62 || nOut + run > nPix) return bad
          off += 1; acc(run); nOut += run
      }
      // reference-decoder cache update after every chunk
      val hp = ((3 * pr + 5 * pg + 7 * pb + 11 * pa) & 0x3f) * 4
      idx(hp) = pr; idx(hp + 1) = pg; idx(hp + 2) = pb; idx(hp + 3) = pa
    }
    // exactly the 8-byte end marker (7x00, 01) and nothing after it
    if (off != payload.length - 8) return bad
    var i = 0
    while (i < 7) { if (u8(off + i) != 0) return bad; i += 1 }
    if (u8(off + 7) != 1) return bad
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, w.toInt, h.toInt, w * h, sr, sg, sb, peak, luma))
  }

  /** REAL ZIP archive decode for `graft_zip_stats` — the container
    * is implemented HERE per the published PKWARE APPNOTE layout
    * (the raw-deflate layer is `java.util.zip.Inflater(nowrap)`):
    * end-of-central-directory discovery by backward scan with the
    * comment-length consistency rule, central-directory walk with
    * exact framing (the walker must land on the EOCD's recorded
    * size), per-entry local-header parse, and STREAMING-MODE
    * correctness — sizes and CRC are taken from the CENTRAL
    * directory, never the local header, because general-purpose
    * bit 3 writers (the JDK's own ZipOutputStream among them) leave
    * local sizes zeroed and append data descriptors. Each entry is
    * fully decompressed (stored and deflate methods), must inflate
    * to EXACTLY the recorded size from EXACTLY the recorded
    * compressed bytes, and must match its recorded CRC-32. Per-entry
    * and total size caps (16 MiB / 64 MiB) bound hostile zip bombs
    * before allocation. Total function: valid=false, never a throw.
    * Accumulates exact integers: entry count, total uncompressed
    * bytes, Σ byte values (unsigned) over all decompressed content,
    * and the largest entry.
    */
  def zipStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0L, 0L, 0L))
    def u8(o: Int): Int = payload(o) & 0xff
    def le16(o: Int): Int = u8(o) | (u8(o + 1) << 8)
    def le32(o: Int): Long =
      (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
        ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
    if (payload.length < 22) return bad
    // EOCD: backward scan; a candidate is real when its comment
    // length runs exactly to payload end (APPNOTE 4.3.16)
    var eocd = -1
    var scan = payload.length - 22
    val scanFloor = math.max(0, payload.length - 22 - 65535)
    while (eocd < 0 && scan >= scanFloor) {
      if (u8(scan) == 0x50 && u8(scan + 1) == 0x4b && u8(scan + 2) == 0x05 && u8(scan + 3) == 0x06 &&
        scan + 22 + le16(scan + 20) == payload.length) eocd = scan
      scan -= 1
    }
    if (eocd < 0) return bad
    val nHere  = le16(eocd + 8)
    val nTotal = le16(eocd + 10)
    val cdSize = le32(eocd + 12)
    val cdOff  = le32(eocd + 16)
    // single-disk archives only; the central directory must end
    // exactly where the EOCD begins (canonical layout)
    if (le16(eocd + 4) != 0 || le16(eocd + 6) != 0 || nHere != nTotal ||
      cdOff < 0 || cdSize < 0 || cdOff + cdSize != eocd) return bad
    var off = cdOff.toInt
    val cdEnd = (cdOff + cdSize).toInt
    var n = 0
    var totalBytes = 0L
    var sumBytes   = 0L
    var maxEntry   = 0L
    val crc = new java.util.zip.CRC32()
    while (n < nTotal) {
      if (off + 46 > cdEnd) return bad
      if (le32(off) != 0x02014b50L) return bad
      val method   = le16(off + 10)
      val wantCrc  = le32(off + 16)
      val csize    = le32(off + 20)
      val usize    = le32(off + 24)
      val nameLen  = le16(off + 28)
      val extraLen = le16(off + 30)
      val cmtLen   = le16(off + 32)
      val diskNo   = le16(off + 34)
      val localOff = le32(off + 42)
      // ZIP64 marker values are out of scope — reject, don't guess
      if (diskNo != 0 || csize == 0xffffffffL || usize == 0xffffffffL ||
        localOff == 0xffffffffL) return bad
      if (usize > 16777216L || totalBytes + usize > 67108864L) return bad
      if (method != 0 && method != 8) return bad
      if (method == 0 && csize != usize) return bad
      // local header: sig + its OWN name/extra lengths locate the
      // data; sizes/CRC there are untrustworthy under bit 3
      if (localOff < 0 || localOff + 30 > eocd) return bad
      val lo = localOff.toInt
      if (le32(lo) != 0x04034b50L) return bad
      val dataOff = lo + 30 + le16(lo + 26) + le16(lo + 28)
      if (dataOff + csize > eocd) return bad
      val out = new Array[Byte](usize.toInt)
      if (method == 0) {
        System.arraycopy(payload, dataOff, out, 0, usize.toInt)
      } else {
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(payload, dataOff, csize.toInt)
          var got = 0
          while (got < usize.toInt && !inf.finished()) {
            val k = inf.inflate(out, got, usize.toInt - got)
            if (k == 0 && (inf.needsInput() || inf.needsDictionary())) return bad
            got += k
          }
          if (got != usize.toInt) return bad
          // the stream must end exactly at the recorded sizes: a
          // longer plaintext or unconsumed compressed bytes mean the
          // directory lies. The probe advances the inflater to EOS
          // when the end-of-stream symbol is next; requiring
          // finished() afterwards rejects TRUNCATED streams that
          // yielded the right byte count but never terminated
          val probe = new Array[Byte](1)
          if (!inf.finished() && inf.inflate(probe, 0, 1) != 0) return bad
          if (!inf.finished()) return bad
          if (inf.getBytesRead != csize) return bad
        } catch {
          case _: java.util.zip.DataFormatException => return bad
        } finally inf.end()
      }
      crc.reset()
      crc.update(out, 0, out.length)
      if (crc.getValue != wantCrc) return bad
      totalBytes += usize
      if (usize > maxEntry) maxEntry = usize
      var i = 0
      while (i < out.length) { sumBytes += out(i) & 0xff; i += 1 }
      off += 46 + nameLen + extraLen + cmtLen
      n += 1
    }
    if (off != cdEnd) return bad // framing: the walk must consume the directory exactly
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, nTotal, totalBytes, sumBytes, maxEntry))
  }

  /** STRICT UTF-8 validation + codepoint census for `graft_utf8_stats`,
    * implemented from RFC 3629: continuation-byte checks, the
    * OVERLONG-encoding rejections per class (2-byte < U+0080,
    * 3-byte < U+0800, 4-byte < U+10000), the surrogate-range
    * rejection (U+D800..U+DFFF), the U+10FFFF ceiling, and lead
    * bytes 0xF8..0xFF rejected outright. UTF-8 validation is the
    * first gate of every text-ingest pipeline at corpus scale —
    * mojibake and truncated multi-byte tails must be caught before
    * any tokenizer sees the bytes. One linear pass accumulating
    * exact integers: total bytes, codepoints, per-class counts
    * (ASCII/2/3/4-byte), and the max codepoint. Malformed payloads
    * return valid=false with the class counts zeroed; total
    * function, never a throw.
    */
  def utf8Stats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, payload.length.toLong, 0L, 0L, 0L, 0L, 0L, 0))
    var i = 0
    var n1 = 0L; var n2 = 0L; var n3 = 0L; var n4 = 0L
    var maxCp = 0
    def cont(o: Int): Int =
      if (o >= payload.length || (payload(o) & 0xc0) != 0x80) -1 else payload(o) & 0x3f
    while (i < payload.length) {
      val b0 = payload(i) & 0xff
      if (b0 < 0x80) {
        if (b0 > maxCp) maxCp = b0
        n1 += 1; i += 1
      } else if (b0 < 0xc0) {
        return bad // stray continuation byte as lead
      } else if (b0 < 0xe0) {
        val c1 = cont(i + 1); if (c1 < 0) return bad
        val cp = ((b0 & 0x1f) << 6) | c1
        if (cp < 0x80) return bad // overlong 2-byte
        if (cp > maxCp) maxCp = cp
        n2 += 1; i += 2
      } else if (b0 < 0xf0) {
        val c1 = cont(i + 1); val c2 = cont(i + 2)
        if (c1 < 0 || c2 < 0) return bad
        val cp = ((b0 & 0x0f) << 12) | (c1 << 6) | c2
        if (cp < 0x800) return bad                  // overlong 3-byte
        if (cp >= 0xd800 && cp <= 0xdfff) return bad // surrogate range
        if (cp > maxCp) maxCp = cp
        n3 += 1; i += 3
      } else if (b0 < 0xf8) {
        val c1 = cont(i + 1); val c2 = cont(i + 2); val c3 = cont(i + 3)
        if (c1 < 0 || c2 < 0 || c3 < 0) return bad
        val cp = ((b0 & 0x07) << 18) | (c1 << 12) | (c2 << 6) | c3
        if (cp < 0x10000 || cp > 0x10ffff) return bad // overlong 4-byte / past Unicode
        if (cp > maxCp) maxCp = cp
        n4 += 1; i += 4
      } else {
        return bad // 0xF8..0xFF were never valid UTF-8 leads
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, payload.length.toLong, n1 + n2 + n3 + n4, n1, n2, n3, n4, maxCp))
  }

  /** STRICT UTF-16 validation + codepoint census for `graft_utf16_stats`:
    * a BOM is REQUIRED (FE FF big-endian or FF FE little-endian —
    * BOM-less UTF-16 is the classic mojibake source), the byte count
    * after it must be even, every high surrogate must be followed by
    * a low surrogate, and stray low surrogates are rejected. One
    * linear pass accumulating exact integers: bytes, codepoints,
    * BMP vs supplementary counts, max codepoint, Σ codepoints.
    * Malformed payloads return valid=false; total function.
    */
  def utf16Stats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, payload.length.toLong, 0L, 0L, 0L, 0, 0L))
    if (payload.length < 2 || (payload.length & 1) != 0) return bad
    val b0 = payload(0) & 0xff
    val b1 = payload(1) & 0xff
    val be =
      if (b0 == 0xfe && b1 == 0xff) true
      else if (b0 == 0xff && b1 == 0xfe) false
      else return bad
    def unit(o: Int): Int =
      if (be) ((payload(o) & 0xff) << 8) | (payload(o + 1) & 0xff)
      else ((payload(o + 1) & 0xff) << 8) | (payload(o) & 0xff)
    var i = 2
    var nBmp = 0L
    var nSupp = 0L
    var maxCp = 0
    var sumCp = 0L
    while (i < payload.length) {
      val u = unit(i)
      if (u >= 0xd800 && u < 0xdc00) { // high surrogate: pair required
        if (i + 4 > payload.length) return bad
        val lo = unit(i + 2)
        if (lo < 0xdc00 || lo >= 0xe000) return bad
        val cp = 0x10000 + ((u - 0xd800) << 10) + (lo - 0xdc00)
        if (cp > maxCp) maxCp = cp
        sumCp += cp
        nSupp += 1
        i += 4
      } else if (u >= 0xdc00 && u < 0xe000) {
        return bad // stray low surrogate
      } else {
        if (u > maxCp) maxCp = u
        sumCp += u
        nBmp += 1
        i += 2
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, payload.length.toLong, nBmp + nSupp, nBmp, nSupp, maxCp, sumCp))
  }

  /** RFC 3492 §6.1 bias adaptation, shared by the Punycode encoder
    * ([[graft.operators.Multimodal.punycodeEncode]]) and decoder.
    */
  def punycodeAdapt(delta0: Long, numPoints: Long, firstTime: Boolean): Long = {
    var delta = if (firstTime) delta0 / 700 else delta0 / 2
    delta += delta / numPoints
    var k = 0L
    while (delta > ((36 - 1) * 26) / 2) { delta /= 36 - 1; k += 36 }
    k + (36 - 1 + 1) * delta / (delta + 38)
  }

  /** RFC 3492 §6.3 Punycode ENCODE: basic codepoints + delimiter +
    * delta stream under the same bias state machine as the decoder.
    * Returns null on overflow or an out-of-range codepoint. Used by
    * the corpus wrapper ([[graft.operators.Multimodal]]) and by the
    * decoder's canonical-form re-encode check.
    */
  def punycodeEncode(cps: Array[Int]): String = {
    val sb = new java.lang.StringBuilder()
    var nBasic = 0
    var i = 0
    while (i < cps.length) {
      val cp = cps(i)
      if (cp < 0 || cp > 0x10ffff || (cp >= 0xd800 && cp <= 0xdfff)) return null
      if (cp < 0x80) { sb.append(cp.toChar); nBasic += 1 }
      i += 1
    }
    if (nBasic > 0) sb.append('-')
    var n = 128L
    var delta = 0L
    var bias = 72L
    var h = nBasic.toLong
    while (h < cps.length) {
      var m = Long.MaxValue
      i = 0
      while (i < cps.length) { if (cps(i) >= n && cps(i) < m) m = cps(i).toLong; i += 1 }
      delta += (m - n) * (h + 1)
      if (delta > Int.MaxValue) return null
      n = m
      i = 0
      while (i < cps.length) {
        val c = cps(i)
        if (c < n) {
          delta += 1
          if (delta > Int.MaxValue) return null
        } else if (c == n) {
          var q = delta
          var k = 36L
          var done = false
          while (!done) {
            val t = if (k <= bias) 1L else if (k >= bias + 26) 26L else k - bias
            if (q < t) {
              sb.append(punyDigit(q.toInt))
              done = true
            } else {
              sb.append(punyDigit((t + (q - t) % (36 - t)).toInt))
              q = (q - t) / (36 - t)
              k += 36
            }
          }
          bias = punycodeAdapt(delta, h + 1, h == nBasic)
          delta = 0
          h += 1
        }
        i += 1
      }
      delta += 1
      n += 1
    }
    sb.toString
  }

  private def punyDigit(d: Int): Char =
    if (d < 26) ('a' + d).toChar else ('0' + d - 26).toChar

  /** STRICT RFC 3492 Punycode decode for `graft_punycode_stats`: the
    * payload is an ASCII `xn--`-prefixed label; after the prefix the
    * basic codepoints run to the LAST hyphen delimiter, then the
    * generalized-variable-length-integer deltas reconstruct the
    * extended codepoints through the §6.2 state machine (bias
    * adaptation, overflow checks at every addition/multiplication,
    * surrogate/ceiling rejection on n). CANONICALITY is enforced —
    * the decoded sequence is RE-ENCODED and must byte-equal the
    * input (RFC 3492 encodings are unique, so a non-canonical but
    * decodable spelling aliases a distinct label: the same dedup
    * hazard the strict Base64 decoder closes). Uppercase anywhere in
    * the payload is rejected (canonical lowercase form). One pass +
    * the re-encode; exact integer stats: codepoints, basic/extended
    * counts, max and Σ codepoints. Malformed → valid=false; total.
    */
  def punycodeStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0L, 0L, 0L, 0, 0L))
    if (payload.length < 4) return bad
    if (payload(0) != 'x' || payload(1) != 'n' || payload(2) != '-' || payload(3) != '-') return bad
    val s = new Array[Int](payload.length - 4)
    var i = 0
    while (i < s.length) {
      val b = payload(4 + i) & 0xff
      if (b >= 0x80 || (b >= 'A' && b <= 'Z')) return bad // ASCII, canonical lowercase only
      s(i) = b
      i += 1
    }
    // basic codepoints: up to the LAST delimiter '-'; none if absent
    var delim = -1
    i = s.length - 1
    while (delim < 0 && i >= 0) { if (s(i) == '-') delim = i; i -= 1 }
    val out = new java.util.ArrayList[Integer]()
    var p = 0
    if (delim >= 0) {
      while (p < delim) { out.add(s(p)); p += 1 }
      p = delim + 1
    }
    var n = 128L
    var idx = 0L
    var bias = 72L
    def digit(c: Int): Int =
      if (c >= 'a' && c <= 'z') c - 'a'
      else if (c >= '0' && c <= '9') c - '0' + 26
      else -1
    while (p < s.length) {
      val oldi = idx
      var w = 1L
      var k = 36L
      var done = false
      while (!done) {
        if (p >= s.length) return bad // truncated integer
        val d = digit(s(p)); p += 1
        if (d < 0) return bad
        idx += d * w
        if (idx > Int.MaxValue) return bad // overflow
        val t = if (k <= bias) 1L else if (k >= bias + 26) 26L else k - bias
        if (d < t) done = true
        else {
          w *= 36 - t
          if (w > Int.MaxValue) return bad
          k += 36
        }
      }
      val np = out.size + 1L
      bias = punycodeAdapt(idx - oldi, np, oldi == 0)
      n += idx / np
      if (n > 0x10ffffL || (n >= 0xd800L && n <= 0xdfffL)) return bad
      idx %= np
      out.add(idx.toInt, n.toInt)
      idx += 1
    }
    // canonical-form enforcement: re-encode and require byte equality
    val cps = new Array[Int](out.size)
    i = 0
    while (i < cps.length) { cps(i) = out.get(i); i += 1 }
    val re = punycodeEncode(cps)
    if (re == null || re.length != s.length) return bad
    i = 0
    while (i < s.length) { if (re.charAt(i) != s(i)) return bad; i += 1 }
    var nBasic = 0L
    var nExt = 0L
    var maxCp = 0
    var sumCp = 0L
    i = 0
    while (i < cps.length) {
      val cp = cps(i)
      if (cp < 0x80) nBasic += 1 else nExt += 1
      if (cp > maxCp) maxCp = cp
      sumCp += cp
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, nBasic + nExt, nBasic, nExt, maxCp, sumCp))
  }

  /** STRICT RFC 4648 Base64 decode for `graft_b64_stats`: the standard
    * alphabet only, length a multiple of 4, padding only in the
    * final quantum ('=' or '==', with the mandated zero low bits in
    * the preceding symbol so every decode has exactly one canonical
    * encoding), nothing after the padding. One linear pass
    * accumulating exact integers over the DECODED bytes: count,
    * Σ values, max. Malformed payloads return valid=false; total
    * function, never a throw.
    */
  def base64Stats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0L, 0L, 0))
    def dec(b: Int): Int =
      if (b >= 'A' && b <= 'Z') b - 'A'
      else if (b >= 'a' && b <= 'z') b - 'a' + 26
      else if (b >= '0' && b <= '9') b - '0' + 52
      else if (b == '+') 62
      else if (b == '/') 63
      else -1
    if (payload.length % 4 != 0) return bad
    var n = 0L
    var sum = 0L
    var peak = 0
    def acc(v: Int): Unit = { n += 1; sum += v; if (v > peak) peak = v }
    var i = 0
    while (i < payload.length) {
      val isLast = i + 4 == payload.length
      val b0 = payload(i) & 0xff; val b1 = payload(i + 1) & 0xff
      val b2 = payload(i + 2) & 0xff; val b3 = payload(i + 3) & 0xff
      val d0 = dec(b0); val d1 = dec(b1)
      if (d0 < 0 || d1 < 0) return bad
      if (b3 == '=' && b2 == '=') {
        // xx== : one byte; the 4 low bits of d1 must be zero
        // (canonical encoding) and this must be the final quantum
        if (!isLast || (d1 & 0x0f) != 0) return bad
        acc((d0 << 2) | (d1 >> 4))
      } else if (b3 == '=') {
        // xxx= : two bytes; 2 low bits of d2 must be zero
        val d2 = dec(b2)
        if (!isLast || d2 < 0 || (d2 & 0x03) != 0) return bad
        acc((d0 << 2) | (d1 >> 4)); acc(((d1 & 0x0f) << 4) | (d2 >> 2))
      } else {
        val d2 = dec(b2); val d3 = dec(b3)
        if (d2 < 0 || d3 < 0) return bad
        acc((d0 << 2) | (d1 >> 4)); acc(((d1 & 0x0f) << 4) | (d2 >> 2)); acc(((d2 & 0x03) << 6) | d3)
      }
      i += 4
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, n, sum, peak))
  }

  /** REAL DEFLATE decompressor implemented from RFC 1951 — the
    * in-repo answer to the one layer the other decoders borrow from
    * the JDK. LSB-first bit reader; all three block types (stored
    * with the ones'-complement LEN/NLEN check, fixed Huffman,
    * dynamic Huffman with the 19-symbol code-length code and its
    * 16/17/18 repeat operators); canonical Huffman decoding from
    * code lengths (per-length first-code/offset arrays — the
    * classic construction); the full length/distance alphabets with
    * their extra-bits tables; LZ77 back-reference copies straight
    * off the output buffer (overlapping copies byte-by-byte, the
    * RLE-through-history case). Strict: oversubscribed or
    * incomplete-but-used codes, reserved block type 3, symbols
    * 286/287, distances reaching before output start, truncated
    * streams, and outputs past `cap` all return null (malformed).
    * Returns the decompressed bytes, or null.
    */
  def inflateRaw(payload: Array[Byte], from: Int, cap: Int): Array[Byte] = {
    // ---- bit reader ----
    var bitPos = from.toLong * 8
    val totalBits = payload.length.toLong * 8
    def bits(n: Int): Int = {
      if (bitPos + n > totalBits) return -1
      var v = 0
      var i = 0
      while (i < n) {
        val b = (payload((bitPos >> 3).toInt) >> (bitPos & 7).toInt) & 1
        v |= b << i
        bitPos += 1
        i += 1
      }
      v
    }
    var out = new Array[Byte](math.min(1 << 12, cap))
    var outLen = 0
    def ensure(n: Int): Boolean = {
      if (outLen + n > cap) return false
      while (outLen + n > out.length)
        out = java.util.Arrays.copyOf(out, math.min(out.length * 2, cap))
      true
    }
    // canonical Huffman: decode one symbol by walking code lengths
    // 1..15 against first-code/count tables built from `lens`
    def buildDec(lens: Array[Int]): (Array[Int], Array[Int], Array[Int]) = {
      // returns (countPerLen, firstSymIdxPerLen, symbolsSortedByLenThenOrder)
      val maxLen = 15
      val cnt = new Array[Int](maxLen + 1)
      lens.foreach(l => if (l > 0) cnt(l) += 1)
      // over-subscription check: Kraft sum must not exceed 1
      var kraft = 0L
      var l = 1
      while (l <= maxLen) { kraft += cnt(l).toLong << (maxLen - l); l += 1 }
      if (kraft > (1L << maxLen)) return null
      val firstIdx = new Array[Int](maxLen + 2)
      l = 1
      while (l <= maxLen) { firstIdx(l + 1) = firstIdx(l) + cnt(l); l += 1 }
      val syms = new Array[Int](firstIdx(maxLen + 1))
      val fill = firstIdx.clone()
      var s = 0
      while (s < lens.length) {
        if (lens(s) > 0) { syms(fill(lens(s))) = s; fill(lens(s)) += 1 }
        s += 1
      }
      (cnt, firstIdx, syms)
    }
    def decodeSym(dec: (Array[Int], Array[Int], Array[Int])): Int = {
      val (cnt, firstIdx, syms) = dec
      var code = 0
      var first = 0
      var idx = 0
      var l = 1
      while (l <= 15) {
        val b = bits(1)
        if (b < 0) return -1
        code = (code << 1) | b
        val c = cnt(l)
        if (code - first < c) return syms(idx + (code - first))
        idx += c
        first = (first + c) << 1
        l += 1
      }
      -1
    }
    val lenBase  = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31,
      35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
    val lenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
      3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
    val distBase  = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
      257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289, 16385, 24577)
    val distExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
      7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
    // fixed-Huffman tables (RFC 1951 §3.2.6)
    val fixedLit  = Array.tabulate(288)(i => if (i < 144) 8 else if (i < 256) 9 else if (i < 280) 7 else 8)
    val fixedDist = Array.fill(30)(5)
    var fin = false
    while (!fin) {
      val bf = bits(1)
      if (bf < 0) return null
      fin = bf == 1
      bits(2) match {
        case 0 => // stored: align, LEN/NLEN, raw copy
          bitPos = (bitPos + 7) & ~7L
          val bo = (bitPos >> 3).toInt
          if (bo + 4 > payload.length) return null
          val len  = (payload(bo) & 0xff) | ((payload(bo + 1) & 0xff) << 8)
          val nlen = (payload(bo + 2) & 0xff) | ((payload(bo + 3) & 0xff) << 8)
          if ((len ^ 0xffff) != nlen) return null
          if (bo + 4 + len > payload.length) return null
          if (!ensure(len)) return null
          System.arraycopy(payload, bo + 4, out, outLen, len)
          outLen += len
          bitPos = (bo + 4 + len).toLong * 8
        case t if t == 1 || t == 2 =>
          var litDec: (Array[Int], Array[Int], Array[Int]) = null
          var distDec: (Array[Int], Array[Int], Array[Int]) = null
          if (t == 1) {
            litDec = buildDec(fixedLit); distDec = buildDec(fixedDist)
          } else {
            val hlit  = bits(5); val hdist = bits(5); val hclen = bits(4)
            if (hlit < 0 || hdist < 0 || hclen < 0) return null
            val nLit = hlit + 257
            val nDist = hdist + 1
            if (nLit > 286 || nDist > 30) return null
            val clOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)
            val clLens = new Array[Int](19)
            var i = 0
            while (i < hclen + 4) {
              val v = bits(3)
              if (v < 0) return null
              clLens(clOrder(i)) = v
              i += 1
            }
            val clDec = buildDec(clLens)
            if (clDec == null) return null
            val lens = new Array[Int](nLit + nDist)
            var k = 0
            while (k < lens.length) {
              val sym = decodeSym(clDec)
              if (sym < 0) return null
              if (sym < 16) { lens(k) = sym; k += 1 }
              else if (sym == 16) {
                if (k == 0) return null
                val r = bits(2); if (r < 0) return null
                val v = lens(k - 1)
                var j = 0
                while (j < r + 3) { if (k >= lens.length) return null; lens(k) = v; k += 1; j += 1 }
              } else if (sym == 17) {
                val r = bits(3); if (r < 0) return null
                var j = 0
                while (j < r + 3) { if (k >= lens.length) return null; lens(k) = 0; k += 1; j += 1 }
              } else {
                val r = bits(7); if (r < 0) return null
                var j = 0
                while (j < r + 11) { if (k >= lens.length) return null; lens(k) = 0; k += 1; j += 1 }
              }
            }
            litDec = buildDec(java.util.Arrays.copyOfRange(lens, 0, nLit))
            distDec = buildDec(java.util.Arrays.copyOfRange(lens, nLit, nLit + nDist))
          }
          if (litDec == null || distDec == null) return null
          var end = false
          while (!end) {
            val sym = decodeSym(litDec)
            if (sym < 0) return null
            if (sym < 256) {
              if (!ensure(1)) return null
              out(outLen) = sym.toByte
              outLen += 1
            } else if (sym == 256) {
              end = true
            } else {
              if (sym > 285) return null
              val li = sym - 257
              val eb = bits(lenExtra(li)); if (eb < 0) return null
              val length = lenBase(li) + eb
              val dsym = decodeSym(distDec)
              if (dsym < 0 || dsym > 29) return null
              val db = bits(distExtra(dsym)); if (db < 0) return null
              val dist = distBase(dsym) + db
              if (dist > outLen) return null // reaches before output start
              if (!ensure(length)) return null
              var j = 0
              while (j < length) { // overlapping copies are byte-serial by design
                out(outLen) = out(outLen - dist)
                outLen += 1
                j += 1
              }
            }
          }
        case _ => return null // reserved block type 3 (or truncated)
      }
    }
    // the stream must END here: trailing bytes beyond the final
    // block's last bit (padding to the byte boundary aside) mean the
    // payload is not one exact deflate stream
    if (((bitPos + 7) >> 3).toInt != payload.length) return null
    java.util.Arrays.copyOf(out, outLen)
  }

  /** `graft_deflate_stats`: in-repo RFC 1951 inflate of a raw
    * deflate payload + exact byte moments. The payload must be ONE
    * complete deflate stream with no trailing bytes (the consumed
    * bit position, rounded up, must land at payload end).
    */
  def deflateStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0L, 0L, 0))
    val data = inflateRaw(payload, 0, 67108864)
    if (data == null) return bad
    var sum = 0L
    var peak = 0
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      sum += b
      if (b > peak) peak = b
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, data.length.toLong, sum, peak))
  }

  /** REAL tar.gz decode for `graft_targz_stats` — both container layers
    * implemented HERE (the raw-deflate core is
    * `java.util.zip.Inflater(nowrap)`): the GZIP member format per
    * RFC 1952 — magic, CM=8, FLG bit handling with proper skipping
    * of the OPTIONAL FEXTRA/FNAME/FCOMMENT/FHCRC fields, then the
    * deflate body, then the 8-byte trailer whose CRC-32 and ISIZE
    * are both VERIFIED against the decompressed bytes (single
    * member, nothing after the trailer) — and the USTAR tar format —
    * 512-byte headers with octal size fields, the header CHECKSUM
    * verified (sum over the header with the checksum field read as
    * spaces), regular-file entries only, content padded to block
    * size, terminated by two zero blocks at exactly the archive end.
    * A 64 MiB decompressed cap bounds hostile bombs before
    * allocation. Total function: valid=false, never a throw. Same
    * output shape as the ZIP twin: entry count, total content bytes,
    * Σ byte values, largest entry.
    */
  def targzStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0L, 0L, 0L))
    def u8(o: Int): Int = payload(o) & 0xff
    if (payload.length < 18) return bad // header 10 + empty deflate + trailer 8
    if (u8(0) != 0x1f || u8(1) != 0x8b || u8(2) != 8) return bad
    val flg = u8(3)
    if ((flg & 0xe0) != 0) return bad // reserved FLG bits must be zero (RFC 1952)
    var off = 10
    if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + payload
      if (off + 2 > payload.length) return bad
      off += 2 + (u8(off) | (u8(off + 1) << 8))
    }
    if ((flg & 8) != 0) { // FNAME: NUL-terminated
      while (off < payload.length && payload(off) != 0) off += 1
      off += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT: NUL-terminated
      while (off < payload.length && payload(off) != 0) off += 1
      off += 1
    }
    if ((flg & 2) != 0) { // FHCRC: CRC-16 over the header bytes so far,
      // VERIFIED per RFC 1952 §2.3.1 — the low 16 bits of the CRC-32
      // of everything from the magic up to (not including) this field
      if (off + 2 > payload.length) return bad
      val hcrc = new java.util.zip.CRC32()
      hcrc.update(payload, 0, off)
      if ((hcrc.getValue & 0xffffL) != (u8(off) | (u8(off + 1) << 8)).toLong) return bad
      off += 2
    }
    if (off >= payload.length - 8) return bad
    // inflate the deflate body with a bounded growing buffer
    val inf = new java.util.zip.Inflater(true)
    var tar: Array[Byte] = null
    var tarLen = 0
    try {
      inf.setInput(payload, off, payload.length - off)
      var buf = new Array[Byte](math.min(1 << 16, 67108864))
      while (!inf.finished()) {
        if (tarLen == buf.length) {
          if (buf.length >= 67108864) return bad // decompressed cap
          buf = java.util.Arrays.copyOf(buf, math.min(buf.length * 2, 67108864))
        }
        val k = inf.inflate(buf, tarLen, buf.length - tarLen)
        if (k == 0 && !inf.finished()) {
          if (inf.needsInput() || inf.needsDictionary()) return bad // truncated body
          if (tarLen < buf.length) return bad // zero progress with space left — refuse to spin
        }
        tarLen += k
      }
      // the trailer must be EXACTLY the 8 bytes after the deflate
      // stream: CRC-32 then ISIZE, both over the decompressed bytes
      val trailerAt = off + inf.getBytesRead.toInt
      if (trailerAt + 8 != payload.length) return bad
      val crc = new java.util.zip.CRC32()
      crc.update(buf, 0, tarLen)
      def le32at(o: Int): Long =
        (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
          ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
      if (crc.getValue != le32at(trailerAt)) return bad
      if ((tarLen & 0xffffffffL) != le32at(trailerAt + 4)) return bad
      tar = buf
    } catch {
      case _: java.util.zip.DataFormatException => return bad
    } finally inf.end()
    // ---- USTAR walk over the decompressed archive ----
    if (tarLen % 512 != 0 || tarLen < 1024) return bad
    def zeroBlock(o: Int): Boolean = {
      var i = 0
      while (i < 512) { if (tar(o + i) != 0) return false; i += 1 }
      true
    }
    def octal(o: Int, len: Int): Long = {
      // NUL/space-terminated octal per POSIX; reject non-octal junk
      var v = 0L
      var i = o
      val end = o + len
      while (i < end && (tar(i) == ' '.toByte)) i += 1
      var any = false
      while (i < end && tar(i) != 0 && tar(i) != ' '.toByte) {
        val c = tar(i) - '0'.toByte
        if (c < 0 || c > 7) return -1L
        v = v * 8 + c
        any = true
        i += 1
      }
      if (!any) -1L else v
    }
    var to = 0
    var n = 0
    var totalBytes = 0L
    var sumBytes   = 0L
    var maxEntry   = 0L
    var ended = false
    while (!ended) {
      if (to + 512 > tarLen) return bad
      if (zeroBlock(to)) {
        // terminator: a SECOND zero block and then exactly EOF
        if (to + 1024 != tarLen || !zeroBlock(to + 512)) return bad
        ended = true
      } else {
        // header checksum: unsigned byte sum with the chksum field
        // (148..155) read as ASCII spaces
        val want = octal(to + 148, 8)
        if (want < 0) return bad
        var s = 0L
        var i = 0
        while (i < 512) {
          s += (if (i >= 148 && i < 156) 32 else tar(to + i) & 0xff)
          i += 1
        }
        if (s != want) return bad
        val typeflag = tar(to + 156)
        if (typeflag != '0'.toByte && typeflag != 0) return bad // regular files only
        // ustar magic ("ustar\0" at 257) — strict, we only emit ustar
        if (tar(to + 257) != 'u'.toByte || tar(to + 258) != 's'.toByte ||
          tar(to + 259) != 't'.toByte || tar(to + 260) != 'a'.toByte ||
          tar(to + 261) != 'r'.toByte || tar(to + 262) != 0) return bad
        val size = octal(to + 124, 12)
        if (size < 0 || size > 16777216L) return bad
        val dataAt = to + 512
        val padded = ((size + 511) / 512) * 512
        if (dataAt + padded > tarLen) return bad
        var j = 0
        while (j < size.toInt) { sumBytes += tar(dataAt + j) & 0xff; j += 1 }
        // padding must be zero — a lying size field cannot hide there
        while (j < padded.toInt) { if (tar(dataAt + j) != 0) return bad; j += 1 }
        totalBytes += size
        if (size > maxEntry) maxEntry = size
        n += 1
        to = dataAt + padded.toInt
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, n, totalBytes, sumBytes, maxEntry))
  }

  /** REAL GIF decode for `graft_gif_stats` — the LZW layer is
    * implemented HERE (no JDK codec does GIF-LZW): variable-width
    * codes (LSB-first bit order), CLEAR/EOI handling, dictionary
    * growth to the 12-bit ceiling with the standard
    * code==nextCode self-reference case — plus the GIF container
    * (header, logical screen descriptor, global and/or local color
    * table, extension-block skipping, image-data sub-block
    * reassembly). Strict scope: single image at origin covering the
    * logical screen; interlace is ACCEPTED — it only permutes row
    * order, and every accumulated moment here is
    * row-permutation-invariant (ImageIO's own writer interlaces by
    * default). The decoded index stream
    * must have exactly width·height pixels, every index inside the
    * active palette. Total function: malformed payloads return
    * valid=false, never a throw. Accumulates the same exact integer
    * moments as the BMP/PNG twins over palette-resolved RGB.
    */
  def gifPixelStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0, 0L, 0L, 0L, 0L, 0, 0L))
    def u8(o: Int): Int  = payload(o) & 0xff
    def le16(o: Int): Int = u8(o) | (u8(o + 1) << 8)
    if (payload.length < 14) return bad
    val hdr = new String(payload, 0, 6, "US-ASCII")
    if (hdr != "GIF87a" && hdr != "GIF89a") return bad
    val width  = le16(6)
    val height = le16(8)
    if (width <= 0 || height <= 0 || width.toLong * height > 67108864L / 4) return bad
    val lsdPacked = u8(10)
    var off = 13
    var gct: Array[Byte] = null
    if ((lsdPacked & 0x80) != 0) {
      val n = 1 << ((lsdPacked & 7) + 1)
      if (off + 3 * n > payload.length) return bad
      gct = java.util.Arrays.copyOfRange(payload, off, off + 3 * n)
      off += 3 * n
    }
    // walk blocks to the (single) image descriptor, skipping
    // extensions; a trailer before any image is malformed
    while (off < payload.length && u8(off) == 0x21) {
      off += 2 // introducer + label
      var blk = if (off < payload.length) u8(off) else return bad
      while (blk != 0) {
        off += 1 + blk
        if (off >= payload.length) return bad
        blk = u8(off)
      }
      off += 1 // the terminating 0 byte
    }
    if (off + 10 > payload.length || u8(off) != 0x2c) return bad
    if (le16(off + 1) != 0 || le16(off + 3) != 0 ||
      le16(off + 5) != width || le16(off + 7) != height) return bad
    val idPacked = u8(off + 9)
    // interlace (bit 6) only PERMUTES row order — every accumulated
    // moment here (sums, peak, luma) is row-permutation-invariant,
    // so interlaced images (ImageIO's default output) decode to
    // identical stats and are accepted
    off += 10
    var pal = gct
    if ((idPacked & 0x80) != 0) {
      val n = 1 << ((idPacked & 7) + 1)
      if (off + 3 * n > payload.length) return bad
      pal = java.util.Arrays.copyOfRange(payload, off, off + 3 * n)
      off += 3 * n
    }
    if (pal == null) return bad
    val palSize = pal.length / 3
    if (off >= payload.length) return bad
    val mcs = u8(off); off += 1
    if (mcs < 2 || mcs > 8) return bad
    // reassemble the LZW stream from length-prefixed sub-blocks
    val lzwBuf = new java.io.ByteArrayOutputStream()
    var blk = if (off < payload.length) u8(off) else return bad
    while (blk != 0) {
      if (off + 1 + blk > payload.length) return bad
      lzwBuf.write(payload, off + 1, blk)
      off += 1 + blk
      if (off >= payload.length) return bad
      blk = u8(off)
    }
    val lzw  = lzwBuf.toByteArray
    val nPix = width * height
    val out  = new Array[Byte](nPix)
    // ---- LZW decode (the real algorithm, 12-bit ceiling) ----
    val clear = 1 << mcs
    val eoi   = clear + 1
    // dictionary as (prefix code, suffix byte); entries < clear are
    // literals. seqBuf materializes one entry back-to-front.
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val seqBuf = new Array[Byte](4096)
    var codeW    = mcs + 1
    var nextCode = eoi + 1
    var prev     = -1
    var bitPos   = 0L
    var nOut     = 0
    val totalBits = lzw.length.toLong * 8
    def firstOf(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    var done = false
    while (!done) {
      if (bitPos + codeW > totalBits) return bad // ran out mid-code
      // LSB-first variable-width read over the REASSEMBLED stream
      val byteAt = (bitPos >> 3).toInt
      val shift  = (bitPos & 7).toInt
      var acc = (lzw(byteAt) & 0xff) >> shift
      var got = 8 - shift
      var bi  = byteAt + 1
      while (got < codeW) { acc |= (lzw(bi) & 0xff) << got; got += 8; bi += 1 }
      val code = acc & ((1 << codeW) - 1)
      bitPos += codeW
      if (code == clear) {
        codeW = mcs + 1; nextCode = eoi + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        if (code >= clear || code >= palSize) return bad
        if (nOut >= nPix) return bad
        out(nOut) = code.toByte; nOut += 1
        prev = code
      } else {
        var seqLen = 0
        if (code < nextCode) {
          if (code < clear && code >= palSize) return bad
          var c = code
          while (c >= clear) { seqBuf(seqLen) = suffix(c); seqLen += 1; c = prefix(c) }
          if (c >= palSize) return bad
          seqBuf(seqLen) = c.toByte; seqLen += 1
        } else if (code == nextCode && nextCode < 4096) {
          // the KwKwK self-reference case: seq(prev) + first(prev)
          var c = prev
          seqBuf(seqLen) = firstOf(prev).toByte; seqLen += 1
          while (c >= clear) { seqBuf(seqLen) = suffix(c); seqLen += 1; c = prefix(c) }
          seqBuf(seqLen) = c.toByte; seqLen += 1
        } else return bad
        if (nOut + seqLen > nPix) return bad
        var i = seqLen - 1
        while (i >= 0) { out(nOut) = seqBuf(i); nOut += 1; i -= 1 }
        if (nextCode < 4096) {
          prefix(nextCode) = prev
          suffix(nextCode) = seqBuf(seqLen - 1) // first byte of this entry
          nextCode += 1
          if (nextCode == (1 << codeW) && codeW < 12) codeW += 1
        }
        prev = code
      }
    }
    if (nOut != nPix) return bad
    var sr = 0L; var sg = 0L; var sb = 0L; var peak = 0; var luma = 0L
    var p = 0
    while (p < nPix) {
      val idx = out(p) & 0xff
      if (idx >= palSize) return bad
      val r = pal(3 * idx) & 0xff
      val g = pal(3 * idx + 1) & 0xff
      val b = pal(3 * idx + 2) & 0xff
      sr += r; sg += g; sb += b
      if (r > peak) peak = r
      if (g > peak) peak = g
      if (b > peak) peak = b
      luma += 299L * r + 587L * g + 114L * b
      p += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, width, height, nPix.toLong, sr, sg, sb, peak, luma))
  }

  /** Byte-histogram statistics of a payload (`graft_byte_stats`):
    * one linear pass builds the 256-bin histogram, one fixed
    * ascending-order pass over the bins derives distinct count, modal
    * byte (smallest on ties: strict `>` while scanning ascending), and
    * Shannon entropy in bits/byte = log2(n) - sum(c*log2(c))/n — the
    * cancellation-free form whose per-bin terms are exact functions
    * of integer counts, folded in ascending byte-value order, so the
    * double accumulation order is fixed and engine-independent up to
    * the final 6-dp rounding the callers apply. High-entropy payloads
    * read as already-compressed or encrypted media, low-entropy as
    * text: the triage signal binary pipelines run before any decode.
    */
  def byteStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val counts = new Array[Long](256)
    var i = 0
    while (i < payload.length) { counts(payload(i) & 0xff) += 1; i += 1 }
    val n = payload.length.toLong
    var distinct = 0
    var top      = 0
    var topCount = 0L
    var s        = 0.0
    var b = 0
    while (b < 256) {
      val c = counts(b)
      if (c > 0) {
        distinct += 1
        if (c > topCount) { topCount = c; top = b }
        s += c * (math.log(c.toDouble) / LN2)
      }
      b += 1
    }
    val entropy = if (n == 0) 0.0 else math.log(n.toDouble) / LN2 - s / n
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, distinct, top, topCount, entropy))
  }

  // ---------------------------------------------------------------
  // Baseline JPEG (ITU T.81) decode — implemented HERE, no codec
  // library: segment walk, DQT/DHT/SOF0/SOS/DRI parse, canonical
  // Huffman decode (the F.16 DECODE procedure with a Kraft check),
  // DC prediction + AC run/size entropy decode with FF00 unstuffing
  // and RSTn handling, dequantization through the zigzag map, a
  // double-precision separable IDCT, and JFIF YCbCr->RGB. Scope is
  // baseline SEQUENTIAL with 1x1 sampling (grayscale or 4:4:4
  // color) — progressive, subsampled, 12-bit, arithmetic-coded and
  // hierarchical streams report valid=false rather than a guess.
  // ---------------------------------------------------------------

  /** Zigzag-order position k -> natural (row-major, v*8+u) index. */
  private val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** cosT(x)(u) = C(u)/2 * cos((2x+1)*u*pi/16): one axis of the
    * separable 8-point IDCT. A DC-only block reconstructs to its
    * flat value EXACTLY (the 1e-14 residue of sqrt(0.5)^2 rounds
    * away), which is what makes the flat-block fixture lossless.
    */
  private val JpegIdctCos: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    val c = if (u == 0) math.sqrt(0.5) else 1.0
    0.5 * c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** Canonical Huffman decode table per T.81 F.16: mincode/maxcode/
    * valptr per code length, built from the DHT BITS counts. `ok`
    * is false when the counts overflow the code space (Kraft) or
    * disagree with the value count — a malformed table must fail the
    * PARSE, not produce garbage symbols.
    */
  private final class JpegHuff(bits: Array[Int], val vals: Array[Byte]) {
    val maxcode = new Array[Int](17)
    val mincode = new Array[Int](17)
    val valptr  = new Array[Int](17)
    var ok = true
    locally {
      var code = 0
      var k    = 0
      var l    = 1
      while (l <= 16) {
        if (bits(l) == 0) maxcode(l) = -1
        else {
          valptr(l) = k
          mincode(l) = code
          code += bits(l); k += bits(l)
          maxcode(l) = code - 1
        }
        if (code > (1 << l)) ok = false
        code <<= 1
        l += 1
      }
      if (k != vals.length || k == 0 || k > 256) ok = false
    }
  }

  /** Decoded image: cropped dimensions plus one plane per component
    * (values 0..255 as bytes, natural row-major order over the
    * PADDED block grid — stride = padW). 1 plane = grayscale,
    * 3 planes = RGB (already converted from YCbCr).
    */
  private[graft] final class JpegImage(val width: Int, val height: Int,
                                       val padW: Int, val planes: Array[Array[Byte]])

  /** Full baseline-JPEG decode; null on ANY malformation (total
    * function — the callers turn null into valid=false). See the
    * section comment above for scope. Caps: dimensions >= 1,
    * width*height <= 4,194,304 px before any plane allocation.
    */
  private[graft] def jpegDecode(payload: Array[Byte]): JpegImage = {
    if (payload.length < 4) return null
    def u8(o: Int): Int = payload(o) & 0xff
    def be16(o: Int): Int = (u8(o) << 8) | u8(o + 1)
    if (u8(0) != 0xff || u8(1) != 0xd8) return null // SOI
    val qtabs  = new Array[Array[Int]](4)   // zigzag order, as stored
    val dcTabs = new Array[JpegHuff](4)
    val acTabs = new Array[JpegHuff](4)
    var width = 0; var height = 0
    var ncomp = 0
    var dri   = 0
    val compTq = new Array[Int](3)
    val compId = new Array[Int](3)
    val compTd = new Array[Int](3)
    val compTa = new Array[Int](3)
    var sofSeen = false
    var off = 2
    var sosAt = -1
    while (sosAt < 0) {
      if (off + 4 > payload.length) return null
      if (u8(off) != 0xff) return null
      val m   = u8(off + 1)
      val len = be16(off + 2)
      if (len < 2 || off + 2 + len > payload.length) return null
      val end = off + 2 + len
      m match {
        case 0xdb => // DQT: one or more tables per segment
          var p = off + 4
          while (p < end) {
            val pq = u8(p) >> 4
            val tq = u8(p) & 15
            if (pq != 0 || tq > 3 || p + 65 > end) return null // 8-bit tables only
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) { t(i) = u8(p + 1 + i); if (t(i) == 0) return null; i += 1 }
            qtabs(tq) = t
            p += 65
          }
          if (p != end) return null
        case 0xc4 => // DHT: one or more tables per segment
          var p = off + 4
          while (p < end) {
            if (p + 17 > end) return null
            val tc = u8(p) >> 4
            val th = u8(p) & 15
            if (tc > 1 || th > 3) return null
            val bits = new Array[Int](17)
            var total = 0
            var l = 1
            while (l <= 16) { bits(l) = u8(p + l); total += bits(l); l += 1 }
            if (p + 17 + total > end) return null
            val vals = java.util.Arrays.copyOfRange(payload, p + 17, p + 17 + total)
            val h = new JpegHuff(bits, vals)
            if (!h.ok) return null
            if (tc == 0) dcTabs(th) = h else acTabs(th) = h
            p += 17 + total
          }
          if (p != end) return null
        case 0xc0 => // SOF0: baseline sequential
          if (sofSeen) return null
          sofSeen = true
          if (u8(off + 4) != 8) return null // 8-bit precision only
          height = be16(off + 5)
          width  = be16(off + 7)
          ncomp  = u8(off + 9)
          if (width < 1 || height < 1 ||
            width.toLong * height > 4194304L) return null // bomb cap
          if (ncomp != 1 && ncomp != 3) return null
          if (len != 8 + 3 * ncomp) return null
          var c = 0
          while (c < ncomp) {
            compId(c) = u8(off + 10 + 3 * c)
            if (u8(off + 11 + 3 * c) != 0x11) return null // 1x1 sampling only (4:4:4 scope)
            compTq(c) = u8(off + 12 + 3 * c)
            if (compTq(c) > 3) return null
            c += 1
          }
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return null // extended/progressive/lossless/arithmetic/differential: out of scope
        case 0xdd => // DRI
          if (len != 4) return null
          dri = be16(off + 4)
        case 0xda => // SOS
          if (!sofSeen) return null
          if (u8(off + 4) != ncomp || len != 6 + 2 * ncomp) return null
          var c = 0
          while (c < ncomp) {
            if (u8(off + 5 + 2 * c) != compId(c)) return null // interleaved, SOF order
            compTd(c) = u8(off + 6 + 2 * c) >> 4
            compTa(c) = u8(off + 6 + 2 * c) & 15
            if (compTd(c) > 3 || compTa(c) > 3) return null
            c += 1
          }
          // baseline single full scan: Ss=0, Se=63, Ah=Al=0
          if (u8(end - 3) != 0 || u8(end - 2) != 63 || u8(end - 1) != 0) return null
          sosAt = end
        case x if x >= 0xe0 && x <= 0xef => // APPn
        case 0xfe                         => // COM
        case _                            => return null
      }
      off = end
    }
    var c = 0
    while (c < ncomp) {
      if (qtabs(compTq(c)) == null || dcTabs(compTd(c)) == null || acTabs(compTa(c)) == null)
        return null
      c += 1
    }
    // ---- entropy-coded data: bit reader with FF00 unstuffing ----
    var pos    = sosAt
    var bitBuf = 0
    var bitCnt = 0
    var hitEoi = false
    var eoiAt  = -1
    def fillByte(): Boolean = {
      if (hitEoi || pos >= payload.length) return false
      val b = u8(pos)
      if (b == 0xff) {
        if (pos + 1 >= payload.length) return false
        val mm = u8(pos + 1)
        if (mm == 0x00) { pos += 2; bitBuf = (bitBuf << 8) | 0xff; bitCnt += 8; true }
        else if (mm == 0xd9) { hitEoi = true; eoiAt = pos; false }
        else false // a marker where entropy bits were needed: truncated scan
      } else { pos += 1; bitBuf = (bitBuf << 8) | b; bitCnt += 8; true }
    }
    def nextBit(): Int = {
      if (bitCnt == 0 && !fillByte()) return -1
      bitCnt -= 1
      (bitBuf >>> bitCnt) & 1
    }
    def decodeSym(h: JpegHuff): Int = {
      var code = nextBit(); if (code < 0) return -1
      var l = 1
      while (code > h.maxcode(l)) {
        if (l == 16) return -1
        val b = nextBit(); if (b < 0) return -1
        code = (code << 1) | b
        l += 1
      }
      h.vals(h.valptr(l) + code - h.mincode(l)) & 0xff
    }
    def receive(s: Int): Int = {
      var v = 0
      var i = 0
      while (i < s) { val b = nextBit(); if (b < 0) return Int.MinValue; v = (v << 1) | b; i += 1 }
      v
    }
    def extend(v: Int, s: Int): Int =
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    val mcusX = (width + 7) / 8
    val mcusY = (height + 7) / 8
    val padW  = mcusX * 8
    val padH  = mcusY * 8
    val planes = Array.fill(ncomp)(new Array[Byte](padW * padH))
    val preds  = new Array[Int](ncomp)
    val coef   = new Array[Int](64)
    val pix    = new Array[Int](64)
    def idct(): Unit = {
      // rows (u axis) then columns (v axis); coef is natural order
      val t = new Array[Double](64)
      var v = 0
      while (v < 8) {
        var x = 0
        while (x < 8) {
          var s = 0.0
          var u = 0
          while (u < 8) { s += JpegIdctCos(x)(u) * coef(v * 8 + u); u += 1 }
          t(v * 8 + x) = s
          x += 1
        }
        v += 1
      }
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var s = 0.0
          var vv = 0
          while (vv < 8) { s += JpegIdctCos(y)(vv) * t(vv * 8 + x); vv += 1 }
          val p = math.rint(s).toInt + 128
          pix(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
          x += 1
        }
        y += 1
      }
    }
    var mcu    = 0
    var rstIdx = 0
    val mcus   = mcusX * mcusY
    while (mcu < mcus) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        // restart: discard pad bits, expect RSTn in sequence, reset preds
        bitCnt = 0
        if (pos + 2 > payload.length || u8(pos) != 0xff) return null
        val mm = u8(pos + 1)
        if (mm != 0xd0 + (rstIdx % 8)) return null
        pos += 2
        rstIdx += 1
        java.util.Arrays.fill(preds, 0)
      }
      val bx = (mcu % mcusX) * 8
      val by = (mcu / mcusX) * 8
      var ci = 0
      while (ci < ncomp) {
        java.util.Arrays.fill(coef, 0)
        val q  = qtabs(compTq(ci))
        val s0 = decodeSym(dcTabs(compTd(ci)))
        if (s0 < 0 || s0 > 11) return null
        val dv =
          if (s0 == 0) 0
          else { val r = receive(s0); if (r == Int.MinValue) return null; extend(r, s0) }
        preds(ci) += dv
        coef(0) = preds(ci) * q(0)
        var k = 1
        var eob = false
        while (!eob && k <= 63) {
          val rs = decodeSym(acTabs(compTa(ci)))
          if (rs < 0) return null
          val run = rs >> 4
          val sz  = rs & 15
          if (sz == 0) {
            if (rs == 0x00) eob = true
            else if (rs == 0xf0) { k += 16; if (k > 64) return null }
            else return null
          } else if (sz > 10) {
            // T.81 F.1.2.2.1: AC magnitude categories run 1..10 only
            // (DC alone reaches 11) — an SSSS of 11-15 is an
            // out-of-spec stream, rejected like the s0 > 11 DC check
            return null
          } else {
            k += run
            if (k > 63) return null
            val rv = receive(sz); if (rv == Int.MinValue) return null
            coef(JpegZigzag(k)) = extend(rv, sz) * q(k)
            k += 1
          }
        }
        idct()
        val plane = planes(ci)
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            plane((by + yy) * padW + bx + xx) = pix(yy * 8 + xx).toByte
            xx += 1
          }
          yy += 1
        }
        ci += 1
      }
      mcu += 1
    }
    // strict framing, like the other decoders: pad bits end the last
    // entropy byte, then EOI, then the payload ENDS
    if (hitEoi) { if (eoiAt + 2 != payload.length) return null }
    else {
      if (pos + 2 != payload.length || u8(pos) != 0xff || u8(pos + 1) != 0xd9) return null
    }
    if (ncomp == 3) {
      // JFIF YCbCr -> RGB in place (planes become R, G, B)
      val py = planes(0); val pcb = planes(1); val pcr = planes(2)
      var i = 0
      val n = padW * padH
      while (i < n) {
        val y  = py(i) & 0xff
        val cb = (pcb(i) & 0xff) - 128
        val cr = (pcr(i) & 0xff) - 128
        def cl(d: Double): Byte = {
          val r = math.rint(d).toInt
          (if (r < 0) 0 else if (r > 255) 255 else r).toByte
        }
        py(i) = cl(y + 1.402 * cr)
        pcb(i) = cl(y - 0.344136 * cb - 0.714136 * cr)
        pcr(i) = cl(y + 1.772 * cb)
        i += 1
      }
    }
    new JpegImage(width, height, padW, planes)
  }

  /** REAL baseline-JPEG decode for `graft_jpeg_stats`: full
    * [[jpegDecode]] (entropy decode + dequant + IDCT + color
    * convert), then exact integer pixel moments over the CROPPED
    * image — same output shape as the BMP/PNG/GIF/QOI twins.
    * Total function: malformed/out-of-scope payloads report
    * valid=false, never a throw.
    */
  def jpegStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0, 0L, 0L, 0L, 0L, 0, 0L))
    val img =
      try jpegDecode(payload)
      catch { case _: RuntimeException => null }
    if (img == null) return bad
    val gray = img.planes.length == 1
    val pr = img.planes(0)
    val pg = if (gray) pr else img.planes(1)
    val pb = if (gray) pr else img.planes(2)
    var sr = 0L; var sg = 0L; var sb = 0L
    var peak = 0
    var luma = 0L
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        val o = y * img.padW + x
        val r = pr(o) & 0xff; val g = pg(o) & 0xff; val b = pb(o) & 0xff
        sr += r; sg += g; sb += b
        val m = if (r > g) { if (r > b) r else b } else { if (g > b) g else b }
        if (m > peak) peak = m
        luma += 299L * r + 587L * g + 114L * b
        x += 1
      }
      y += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, img.width, img.height, img.width.toLong * img.height,
        sr, sg, sb, peak, luma))
  }

  // ---- BPE tokenizer apply (q_bpe_encode) ---------------------------

  /** Ordered BPE merge table — the deterministic in-repo "learned"
    * vocabulary the tokenizer-apply operator runs against (every
    * real pretraining pipeline tokenizes; this is the apply stage
    * with a bounded merges table, the shape of sentencepiece/BPE
    * inference). Order IS the priority: merges are applied first to
    * last, each as ONE greedy left-to-right pass (see
    * [[bpeTokenizeWord]]). Later merges may consume outputs of
    * earlier ones, exactly like a learned table.
    */
  val BpeMerges: Array[(String, String)] = Array(
    ("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"), ("e", "r"), ("a", "r"),
    ("o", "r"), ("s", "t"), ("a", "t"), ("r", "o"), ("l", "o"), ("t", "o"),
    ("o", "w"), ("l", "e"), ("s", "c"), ("sc", "an"), ("j", "o"), ("jo", "in"),
    ("h", "a"), ("ha", "s"), ("has", "h"), ("ro", "w"), ("b", "at"),
    ("bat", "c"), ("batc", "h"), ("c", "u"), ("st", "o"), ("c", "o"),
    ("co", "l"), ("u", "m"), ("col", "um"), ("colum", "n"), ("f", "i"),
    ("fi", "l"), ("fil", "t"), ("filt", "er"), ("s", "m"), ("sm", "a"),
    ("sma", "l"), ("s", "lo"), ("m", "er"), ("or", "d"), ("v", "e"),
    ("d", "at"), ("dat", "a"), ("t", "a"), ("v", "a"), ("va", "l"),
    ("val", "u"), ("valu", "e"), ("k", "e"), ("ke", "y"), ("st", "r"),
    ("str", "e"), ("w", "in"), ("win", "d"), ("wind", "ow"), ("s", "p"),
    ("sp", "ar"), ("spar", "k"), ("g", "ro"), ("gro", "u"), ("grou", "p"),
    ("p", "ar"), ("par", "t"), ("b", "i"), ("bi", "g"), ("s", "or"),
    ("sor", "t"), ("q", "u"), ("qu", "er"), ("quer", "y"), ("f", "a"),
    ("fa", "st"), ("d", "u"), ("du", "p"), ("l", "in"), ("lin", "e"),
    ("a", "g"), ("ag", "g"))

  /** Single-character base vocabulary: the common letters. A single
    * char OUTSIDE this set that survives all merges is an OOV token
    * (the WordPiece-unk analog); every multi-char token is some
    * merge's output and therefore in-vocab by construction.
    */
  val BpeBaseSingles: String = "aeiourstln"

  private val bpeVocab: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    BpeBaseSingles.foreach(c => s.add(c.toString))
    BpeMerges.foreach { case (a, b) => s.add(a + b) }
    s
  }

  /** Apply the merge table to one word: start from characters; for
    * each merge (a,b) in order, ONE greedy left-to-right fold pass
    * replaces each adjacent (a,b) whose left side is the fold's
    * CURRENT last symbol — i.e. a freshly-merged "ab" does not
    * immediately re-merge as the `a` of the next position. One pass
    * per pair reaches that pair's fixpoint (the merged symbol a+b
    * can never equal its own right side b, since a is non-empty).
    * The oracle re-implements the identical fold as a DuckDB
    * list_reduce over a '/'-delimited symbol string.
    */
  def bpeTokenizeWord(word: String): Array[String] = {
    var syms = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) { syms.add(String.valueOf(word.charAt(i))); i += 1 }
    var mi = 0
    while (mi < BpeMerges.length && syms.size > 1) {
      val a = BpeMerges(mi)._1
      val b = BpeMerges(mi)._2
      val out = new java.util.ArrayList[String](syms.size)
      out.add(syms.get(0))
      var j = 1
      while (j < syms.size) {
        val x = syms.get(j)
        if (x == b && out.get(out.size - 1) == a) out.set(out.size - 1, a + b)
        else out.add(x)
        j += 1
      }
      syms = out
      mi += 1
    }
    val arr = new Array[String](syms.size)
    syms.toArray(arr)
    arr
  }

  /** Per-thread word -> (n_tokens, n_oov) memo: a pretraining corpus
    * repeats words massively, and the stats only need counts. The
    * cap bounds task memory on an open 100 TB vocabulary; an evicted
    * (never-cached) word just recomputes — output is identical
    * either way.
    */
  private val bpeMemo = new ThreadLocal[java.util.HashMap[String, Array[Long]]] {
    override def initialValue(): java.util.HashMap[String, Array[Long]] =
      new java.util.HashMap[String, Array[Long]]()
  }
  private val BpeMemoCap = 1 << 16

  private def bpeWordCounts(word: String): Array[Long] = {
    val memo = bpeMemo.get()
    val hit  = memo.get(word)
    if (hit != null) return hit
    val toks = bpeTokenizeWord(word)
    var nOov = 0L
    var k = 0
    while (k < toks.length) {
      if (!bpeVocab.contains(toks(k))) nOov += 1
      k += 1
    }
    val v = Array(toks.length.toLong, nOov)
    if (memo.size < BpeMemoCap) memo.put(word, v)
    v
  }

  /** Scan-stage BPE-apply census of one document: words are maximal
    * [a-z]+ runs of the lowercased text; per document the token and
    * OOV-token counts are summed. Exact integers only — the
    * per-source rates divide once at the aggregate.
    */
  def bpeStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    var nWords, nTokens, nOov = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 'a' && c <= 'z') {
        var j = i + 1
        while (j < n && s.charAt(j) >= 'a' && s.charAt(j) <= 'z') j += 1
        val wc = bpeWordCounts(s.substring(i, j))
        nWords += 1; nTokens += wc(0); nOov += wc(1)
        i = j
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, nTokens, nOov))
  }

  /** Token SEQUENCE of one word under the current merge table — the
    * training-side companion of [[bpeStats]]: a BPE training
    * iteration needs the adjacent pairs of the CURRENT tokenization,
    * so this one is meant to run AFTER the per-word frequency
    * aggregation (distinct words only — the 100 TB corpus never
    * explodes to token rows; see TextAnalysis.bpeTrainStep).
    */
  def bpeTokens(word: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = bpeTokenizeWord(word.toString)
    val out  = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // ---- LZ4 frame + block decode (q_lz4_stats) -----------------------

  private val XxP1 = 0x9E3779B1 // 2654435761
  private val XxP2 = 0x85EBCA77 // 2246822519
  private val XxP3 = 0xC2B2AE3D // 3266489917
  private val XxP4 = 0x27D4EB2F // 668265263
  private val XxP5 = 0x165667B1 // 374761393

  /** Clean-room XXH32 (xxHash 32-bit, public spec): the checksum the
    * LZ4 frame format carries for its header, blocks, and content.
    * Little-endian lanes, the 4-accumulator stripe loop for inputs
    * >= 16 bytes, then the 4-byte / 1-byte tails and the avalanche.
    * Int arithmetic wraps mod 2^32 exactly as the spec's uint32.
    */
  def xxhash32(data: Array[Byte], off: Int, len: Int, seed: Int): Int = {
    def r32(p: Int): Int =
      (data(p) & 0xff) | ((data(p + 1) & 0xff) << 8) |
        ((data(p + 2) & 0xff) << 16) | ((data(p + 3) & 0xff) << 24)
    var p = off
    val end = off + len
    var h =
      if (len >= 16) {
        var a1 = seed + XxP1 + XxP2
        var a2 = seed + XxP2
        var a3 = seed
        var a4 = seed - XxP1
        val limit = end - 16
        while (p <= limit) {
          a1 = Integer.rotateLeft(a1 + r32(p) * XxP2, 13) * XxP1; p += 4
          a2 = Integer.rotateLeft(a2 + r32(p) * XxP2, 13) * XxP1; p += 4
          a3 = Integer.rotateLeft(a3 + r32(p) * XxP2, 13) * XxP1; p += 4
          a4 = Integer.rotateLeft(a4 + r32(p) * XxP2, 13) * XxP1; p += 4
        }
        Integer.rotateLeft(a1, 1) + Integer.rotateLeft(a2, 7) +
          Integer.rotateLeft(a3, 12) + Integer.rotateLeft(a4, 18)
      } else seed + XxP5
    h += len
    while (p + 4 <= end) {
      h = Integer.rotateLeft(h + r32(p) * XxP3, 17) * XxP4
      p += 4
    }
    while (p < end) {
      h = Integer.rotateLeft(h + (data(p) & 0xff) * XxP5, 11) * XxP1
      p += 1
    }
    h ^= h >>> 15; h *= XxP2
    h ^= h >>> 13; h *= XxP3
    h ^= h >>> 16
    h
  }

  /** Growable decode sink with a hard bomb cap: starts small (a
    * media cell is hundreds of bytes; allocating the cap per ROW
    * would dominate the scan) and doubles on demand up to `cap`.
    */
  private[graft] final class Lz4Out(initial: Int, val cap: Int) {
    var buf: Array[Byte] = new Array[Byte](math.min(math.max(initial, 64), cap))
    var len: Int = 0
    /** false iff `n` total bytes would exceed the bomb cap. */
    def ensure(n: Long): Boolean =
      if (n > cap) false
      else {
        if (n > buf.length) {
          var s = math.max(buf.length.toLong * 2, n)
          if (s > cap) s = cap
          buf = java.util.Arrays.copyOf(buf, s.toInt)
        }
        true
      }
  }

  /** Strict LZ4 BLOCK decode (public block format: token,
    * 255-extended literal/match lengths, little-endian 2-byte match
    * offsets, overlap-capable match copies). Appends into `out`;
    * returns false on any malformation: offset 0, offset reaching
    * before `minBase` (the block's own start under independent
    * blocks, the frame start under dependent ones), literal or
    * extension overrun of the block, a block ending mid-sequence,
    * or output past the bomb cap (checked BEFORE copying — a
    * crafted 10-byte block can demand gigabytes). Lengths
    * accumulate in Long so 255-chains cannot overflow the checks.
    */
  private[graft] def lz4DecodeBlock(src: Array[Byte], srcOff: Int, srcLen: Int,
                                    out: Lz4Out, minBase: Int): Boolean = {
    var pos = srcOff
    val end = srcOff + srcLen
    while (pos < end) {
      val token = src(pos) & 0xff
      pos += 1
      var litLen = (token >>> 4).toLong
      if (litLen == 15) {
        var b = 255
        while (b == 255) {
          if (pos >= end) return false
          b = src(pos) & 0xff; pos += 1
          litLen += b
          if (litLen > out.cap) return false
        }
      }
      if (pos + litLen > end || !out.ensure(out.len + litLen)) return false
      System.arraycopy(src, pos, out.buf, out.len, litLen.toInt)
      out.len += litLen.toInt; pos += litLen.toInt
      if (pos == end) return true // last sequence: literals only — the ONLY legal block end
      if (pos + 2 > end) return false
      val offset = (src(pos) & 0xff) | ((src(pos + 1) & 0xff) << 8)
      pos += 2
      if (offset == 0 || offset > out.len - minBase) return false
      var matchLen = (token & 15).toLong
      if (matchLen == 15) {
        var b = 255
        while (b == 255) {
          if (pos >= end) return false
          b = src(pos) & 0xff; pos += 1
          matchLen += b
          if (matchLen > out.cap) return false
        }
      }
      matchLen += 4
      if (!out.ensure(out.len + matchLen)) return false
      var m = 0
      var from = out.len - offset
      while (m < matchLen) {
        out.buf(out.len) = out.buf(from); out.len += 1; from += 1; m += 1
      }
    }
    false // ran out of input without a literals-only final sequence
  }

  /** Cap on a single payload's decoded size: far above any real
    * media cell, far below an LZ4 bomb's ambition.
    */
  private val Lz4MaxOut = 1 << 22

  /** STRICT LZ4 FRAME walk + block decode + XXH32 verification in
    * one scan-stage pass (public frame format): magic, version-01
    * FLG with reserved bits zero, BD block-maxsize enum, the
    * descriptor HC byte ((xxh32 >> 8) & 0xFF over ALL descriptor
    * fields including the optional content size), data blocks
    * (compressed or high-bit uncompressed) bounded by the declared
    * max block size, optional per-block checksums, the EndMark,
    * optional content size cross-check, content checksum, and
    * END-OF-PAYLOAD exactness. Total function: any malformation
    * yields valid=false, never a throw.
    */
  def lz4Stats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0L, 0L, 0))
    if (payload == null || payload.length < 7) return bad
    def u8(p: Int): Int = payload(p) & 0xff
    def u32(p: Int): Long =
      (u8(p) | (u8(p + 1) << 8) | (u8(p + 2) << 16) | (u8(p + 3).toLong << 24)) & 0xffffffffL
    if (u32(0) != 0x184D2204L) return bad
    var pos = 4
    val flg = u8(pos); val bd = u8(pos + 1)
    if ((flg >>> 6) != 1) return bad        // version must be 01
    if ((flg & 0x02) != 0) return bad       // reserved bit
    if ((flg & 0x01) != 0) return bad       // DictID unsupported here
    val bIndep    = (flg & 0x20) != 0
    val bChecksum = (flg & 0x10) != 0
    val cSize     = (flg & 0x08) != 0
    val cChecksum = (flg & 0x04) != 0
    val bmsCode = (bd >>> 4) & 0x07
    if ((bd & 0x8f) != 0) return bad        // BD reserved bits
    if (bmsCode < 4) return bad
    val maxBlock = bmsCode match {
      case 4 => 64 << 10; case 5 => 256 << 10; case 6 => 1 << 20; case _ => 4 << 20
    }
    val descLen = 2 + (if (cSize) 8 else 0)
    if (4 + descLen + 1 > payload.length) return bad
    var contentSize = -1L
    if (cSize) {
      contentSize = 0L
      var i = 0
      while (i < 8) { contentSize |= (u8(pos + 2 + i).toLong << (8 * i)); i += 1 }
      if (contentSize < 0 || contentSize > Lz4MaxOut) return bad
    }
    val hc = u8(4 + descLen)
    if (((xxhash32(payload, 4, descLen, 0) >>> 8) & 0xff) != hc) return bad
    pos = 4 + descLen + 1
    val out = new Lz4Out(payload.length * 4, Lz4MaxOut)
    var nBlocks = 0
    var ended   = false
    while (!ended) {
      if (pos + 4 > payload.length) return bad
      val sz = u32(pos); pos += 4
      if (sz == 0L) ended = true
      else {
        val uncompressed = (sz & 0x80000000L) != 0
        val blen = (sz & 0x7fffffffL).toInt
        if (blen == 0 || blen > maxBlock || pos + blen > payload.length) return bad
        if (uncompressed) {
          if (!out.ensure(out.len.toLong + blen)) return bad
          System.arraycopy(payload, pos, out.buf, out.len, blen)
          out.len += blen
        } else {
          // independent blocks: match offsets confined to this
          // block's own output; dependent: the whole frame history
          // (the 16-bit offset bounds the window anyway)
          val minBase = if (bIndep) out.len else 0
          if (!lz4DecodeBlock(payload, pos, blen, out, minBase)) return bad
        }
        pos += blen
        if (bChecksum) {
          if (pos + 4 > payload.length) return bad
          if (u32(pos) != (xxhash32(payload, pos - blen, blen, 0).toLong & 0xffffffffL)) return bad
          pos += 4
        }
        nBlocks += 1
      }
    }
    if (cSize && contentSize != out.len.toLong) return bad
    if (cChecksum) {
      if (pos + 4 > payload.length) return bad
      if (u32(pos) != (xxhash32(out.buf, 0, out.len, 0).toLong & 0xffffffffL)) return bad
      pos += 4
    }
    if (pos != payload.length) return bad  // strict: payload ENDS at the frame's last byte
    var sum = 0L
    var maxB = 0
    var i = 0
    while (i < out.len) {
      val v = out.buf(i) & 0xff
      sum += v
      if (v > maxB) maxB = v
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, nBlocks, out.len.toLong, sum, maxB))
  }

  // ---- Snappy framing + block decode (q_snappy_stats) ---------------

  /** Clean-room CRC-32C (Castagnoli, reversed poly 0x82F63B78) —
    * the checksum the Snappy framing format masks and carries per
    * chunk. Table-driven, byte at a time; the table is built once
    * from the bitwise definition. Spec vectors ("123456789" →
    * 0xE3069283) and the JDK's independent java.util.zip.CRC32C
    * cross-check both live in SnappySpec — and the corpus writer
    * SIGNS chunks with the JDK implementation, so production decode
    * verifies clean-room-vs-JDK on every row.
    */
  private val Crc32cTable: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var c = n
      var k = 0
      while (k < 8) {
        c = if ((c & 1) != 0) 0x82F63B78 ^ (c >>> 1) else c >>> 1
        k += 1
      }
      t(n) = c
      n += 1
    }
    t
  }

  def crc32c(data: Array[Byte], off: Int, len: Int): Int = {
    var c = 0xffffffff
    var i = off
    val end = off + len
    while (i < end) {
      c = Crc32cTable((c ^ data(i)) & 0xff) ^ (c >>> 8)
      i += 1
    }
    c ^ 0xffffffff
  }

  /** The framing format's CRC mask: rotate right 15, add the magic
    * constant (uint32 wrap) — so a CRC of the CRC field itself can
    * never accidentally verify.
    */
  def crc32cMask(crc: Int): Int =
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8

  /** Strict RAW Snappy block decode (public format: uvarint32
    * preamble with the decompressed length, then tagged elements —
    * 00 literal with 0-4 extra length bytes, 01 copy with 3-bit
    * length 4-11 and 11-bit offset, 10 copy with 2-byte offset,
    * 11 copy with 4-byte offset; copies may overlap). Appends into
    * `out`; false on any malformation: uvarint past 32 bits or
    * truncated, preamble over the bomb cap (checked BEFORE any
    * allocation-driving copy), literal overrun, offset 0 or
    * reaching before `base` (this block's own start), input ending
    * mid-element, or a decoded length different from the preamble.
    */
  private[graft] def snappyDecodeRaw(src: Array[Byte], srcOff: Int, srcLen: Int,
                                     out: Lz4Out): Boolean = {
    var pos = srcOff
    val end = srcOff + srcLen
    // uvarint32 preamble
    var declared = 0L
    var shift = 0
    var more = true
    while (more) {
      if (pos >= end || shift > 28) return false
      val b = src(pos) & 0xff
      if (shift == 28 && (b & 0xf0) != 0) return false // > 32 bits
      declared |= (b & 0x7fL) << shift
      shift += 7
      pos += 1
      more = (b & 0x80) != 0
    }
    val base = out.len
    if (declared > out.cap - base || !out.ensure(base + declared)) return false
    while (pos < end) {
      val tag = src(pos) & 0xff
      pos += 1
      if ((tag & 3) == 0) { // literal
        var litLen = (tag >>> 2).toLong
        if (litLen >= 60) {
          val nExtra = (litLen - 59).toInt // 1..4 length bytes
          if (pos + nExtra > end) return false
          litLen = 0L
          var i = 0
          while (i < nExtra) { litLen |= (src(pos + i) & 0xffL) << (8 * i); i += 1 }
          pos += nExtra
        }
        litLen += 1
        if (pos + litLen > end || !out.ensure(out.len + litLen)) return false
        System.arraycopy(src, pos, out.buf, out.len, litLen.toInt)
        out.len += litLen.toInt; pos += litLen.toInt
      } else {
        var matchLen = 0L
        var offset = 0L
        (tag & 3) match {
          case 1 =>
            if (pos + 1 > end) return false
            matchLen = ((tag >>> 2) & 0x7) + 4L
            offset = (((tag >>> 5) & 0x7) << 8 | (src(pos) & 0xff)).toLong
            pos += 1
          case 2 =>
            if (pos + 2 > end) return false
            matchLen = (tag >>> 2) + 1L
            offset = ((src(pos) & 0xff) | ((src(pos + 1) & 0xff) << 8)).toLong
            pos += 2
          case _ =>
            if (pos + 4 > end) return false
            matchLen = (tag >>> 2) + 1L
            offset = (src(pos) & 0xffL) | ((src(pos + 1) & 0xffL) << 8) |
              ((src(pos + 2) & 0xffL) << 16) | ((src(pos + 3) & 0xffL) << 24)
            pos += 4
        }
        if (offset == 0 || offset > out.len - base) return false
        if (!out.ensure(out.len + matchLen)) return false
        var m = 0L
        var from = out.len - offset.toInt
        while (m < matchLen) {
          out.buf(out.len) = out.buf(from); out.len += 1; from += 1; m += 1
        }
      }
    }
    out.len - base == declared // strict: decode exactly the preamble
  }

  private val SnappyMagic: Array[Byte] = "sNaPpY".getBytes("US-ASCII")

  /** STRICT Snappy FRAMING walk + raw block decode + CRC-32C
    * verification in one scan-stage pass (public framing format):
    * leading stream-identifier chunk (0xff, length 6, "sNaPpY" —
    * re-validated on every later occurrence), compressed (0x00) and
    * uncompressed (0x01) data chunks each carrying the MASKED
    * CRC-32C of their uncompressed bytes, padding (0xfe) and
    * reserved-skippable (0x80-0xfd) chunks skipped, reserved
    * UNSKIPPABLE types (0x02-0x7f) rejected, data chunks bounded by
    * the spec's 65536-byte uncompressed limit, END-OF-PAYLOAD
    * exactness. Total function: any malformation yields
    * valid=false, never a throw.
    */
  def snappyStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0L, 0L, 0))
    if (payload == null || payload.length < 10) return bad
    def u8(p: Int): Int = payload(p) & 0xff
    def chunkLen(p: Int): Int = u8(p) | (u8(p + 1) << 8) | (u8(p + 2) << 16)
    def isStreamId(p: Int): Boolean = {
      var i = 0
      while (i < 6) { if (payload(p + i) != SnappyMagic(i)) return false; i += 1 }
      true
    }
    if (u8(0) != 0xff || chunkLen(1) != 6 || !isStreamId(4)) return bad
    var pos = 10
    val out = new Lz4Out(payload.length * 4, Lz4MaxOut)
    var nChunks = 0
    while (pos < payload.length) {
      if (pos + 4 > payload.length) return bad
      val typ = u8(pos)
      val len = chunkLen(pos + 1)
      pos += 4
      if (pos + len > payload.length) return bad
      typ match {
        case 0xff => // repeated stream identifier: must re-validate
          if (len != 6 || !isStreamId(pos)) return bad
        case 0x00 | 0x01 => // compressed / uncompressed data
          if (len < 4) return bad
          val want = (u8(pos) | (u8(pos + 1) << 8) | (u8(pos + 2) << 16) |
            (u8(pos + 3) << 24))
          val before = out.len
          if (typ == 0x01) {
            val dlen = len - 4
            if (dlen > 65536 || !out.ensure(out.len.toLong + dlen)) return bad
            System.arraycopy(payload, pos + 4, out.buf, out.len, dlen)
            out.len += dlen
          } else {
            if (!snappyDecodeRaw(payload, pos + 4, len - 4, out)) return bad
            if (out.len - before > 65536) return bad
          }
          if (crc32cMask(crc32c(out.buf, before, out.len - before)) != want) return bad
          nChunks += 1
        case t if t >= 0x02 && t <= 0x7f => return bad // reserved unskippable
        case _ => () // padding (0xfe) / reserved skippable (0x80-0xfd)
      }
      pos += len
    }
    var sum = 0L
    var maxB = 0
    var i = 0
    while (i < out.len) {
      val v = out.buf(i) & 0xff
      sum += v
      if (v > maxB) maxB = v
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, nChunks, out.len.toLong, sum, maxB))
  }

  // ---- Protobuf wire-format walk (q_proto_stats) --------------------

  /** The fixed32 marker value the corpus writer stamps into field 6
    * on ids % 5 == 0 (unsigned). A present field 6 with any other
    * value is a malformed message.
    */
  private[graft] val ProtoMarker = 0x9E3779B9L & 0xffffffffL

  /** Max repeated field-5 entries accepted before rejecting — a bomb
    * cap: the legitimate writer emits at most ceil(512/64) = 8.
    */
  private val ProtoMaxSegs = 4096

  /** STRICT protobuf wire-format walk (public encoding: Google's
    * protobuf wire format — tag uvarint of (field_no << 3 | wire_type),
    * wire types 0 varint / 1 fixed64-LE / 2 length-delimited /
    * 5 fixed32-LE; 3 and 4 are the deprecated group markers and 6-7
    * reserved, all four rejected) over the corpus writer's message
    * shape: field 1 varint doc_id, field 2 bytes payload, field 3
    * fixed32 = byte sum of field 2 (mod 2^32), field 4 fixed64 =
    * field-2 length, repeated field 5 varint = per-64-byte-segment
    * byte sums, optional field 6 fixed32 = the marker constant.
    * Unknown field numbers are SKIPPED by wire type (the proto
    * contract) but counted in n_fields. Strictness teeth: uvarints
    * capped at 64 bits (10th byte's high bits rejected), tag field
    * number in 1..2^29-1, length-delimited bounds-checked against
    * the remaining payload before any cursor move, duplicate known
    * fields rejected, required fields 1-4 all present, field 3 / 4 /
    * every field 5 re-derived from the field-2 bytes and compared,
    * message ends EXACTLY at the payload's last byte. Total
    * function: malformed yields valid=false, never a throw.
    */
  def protoStats(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val bad = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, 0, 0L, 0L, 0))
    if (payload == null) return bad
    val end = payload.length
    var pos = 0
    var failed = false
    // strict uvarint64: at most 10 bytes, the 10th (shift 63) may
    // only carry the final bit — anything wider is > 64 bits
    def uvarint(): Long = {
      var v = 0L
      var shift = 0
      while (true) {
        if (pos >= end || shift > 63) { failed = true; return 0L }
        val b = payload(pos) & 0xff
        if (shift == 63 && (b & 0xfe) != 0) { failed = true; return 0L }
        v |= (b & 0x7fL) << shift
        pos += 1
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      0L
    }
    var nFields = 0
    var seen1 = false
    var dataOff = -1
    var dataLen = 0
    var seen3 = false; var sumF3 = 0L
    var seen4 = false; var lenF4 = 0L
    var seen6 = false; var f6 = 0L
    val segs = new Array[Long](8)
    var segsWide: Array[Long] = segs
    var nSeg = 0
    while (pos < end) {
      val tag = uvarint()
      if (failed) return bad
      val fieldNo = tag >>> 3
      val wire = (tag & 7L).toInt
      if (fieldNo == 0L || fieldNo > 536870911L) return bad
      nFields += 1
      wire match {
        case 0 =>
          val v = uvarint()
          if (failed) return bad
          if (fieldNo == 1L) { if (seen1) return bad; seen1 = true }
          else if (fieldNo == 5L) {
            if (nSeg >= ProtoMaxSegs) return bad
            if (nSeg >= segsWide.length)
              segsWide = java.util.Arrays.copyOf(segsWide, segsWide.length * 2)
            segsWide(nSeg) = v; nSeg += 1
          }
        case 1 =>
          if (pos + 8 > end) return bad
          var v = 0L
          var i = 0
          while (i < 8) { v |= (payload(pos + i) & 0xffL) << (8 * i); i += 1 }
          pos += 8
          if (fieldNo == 4L) { if (seen4) return bad; seen4 = true; lenF4 = v }
        case 2 =>
          val l = uvarint()
          if (failed) return bad
          if (l < 0L || l > (end - pos).toLong) return bad
          if (fieldNo == 2L) {
            if (dataOff >= 0) return bad
            dataOff = pos; dataLen = l.toInt
          }
          pos += l.toInt
        case 5 =>
          if (pos + 4 > end) return bad
          val v = (payload(pos) & 0xffL) | ((payload(pos + 1) & 0xffL) << 8) |
            ((payload(pos + 2) & 0xffL) << 16) | ((payload(pos + 3) & 0xffL) << 24)
          pos += 4
          if (fieldNo == 3L) { if (seen3) return bad; seen3 = true; sumF3 = v }
          else if (fieldNo == 6L) { if (seen6) return bad; seen6 = true; f6 = v }
        case _ => return bad // 3/4 group markers, 6/7 reserved
      }
    }
    if (!seen1 || dataOff < 0 || !seen3 || !seen4) return bad
    // re-derive the internal checksums from the field-2 bytes
    var sum = 0L
    var maxB = 0
    var i = 0
    while (i < dataLen) {
      val v = payload(dataOff + i) & 0xff
      sum += v
      if (v > maxB) maxB = v
      i += 1
    }
    if ((sum & 0xffffffffL) != sumF3) return bad
    if (lenF4 != dataLen.toLong) return bad
    if (nSeg != (dataLen + 63) / 64) return bad
    var off = 0
    var s = 0
    while (off < dataLen) {
      val segLen = math.min(64, dataLen - off)
      var segSum = 0L
      var j = 0
      while (j < segLen) { segSum += payload(dataOff + off + j) & 0xff; j += 1 }
      if (segsWide(s) != segSum) return bad
      s += 1; off += segLen
    }
    if (seen6 && f6 != ProtoMarker) return bad
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, nFields, dataLen.toLong, sum, maxB))
  }
}

/** One row of [[KernelTable]]: a per-row kernel whose whole body is
  * the static call `GraftHashOps.<method>(input, params...)`.
  *
  * @param name     SQL function name, also the name plans print
  * @param method   the [[GraftHashOps]] method
  * @param input    type of the input column
  * @param result   result type; struct field names are the output
  *                 column names callers select
  * @param nullable the kernel may return null for a non-null input
  *                 (such kernels return an object type)
  * @param params   types of the literal arguments after the input
  */
final case class Kernel(name: String, method: String, input: DataType, result: DataType,
                        nullable: Boolean = false, params: Seq[DataType] = Nil) {

  /** The method, resolved by name once, as Spark's StaticInvoke does:
    * the interpreted path calls exactly what the generated code calls.
    */
  @transient lazy val resolved: java.lang.reflect.Method =
    Class.forName(KernelTable.Ops).getMethod(method,
      (input +: params).map(CodeGenerator.javaClass): _*)

  /** Expression for the SQL call `name(input, params...)`; parameters
    * must be literals and are cast to their declared types.
    */
  def build(es: Seq[Expression]): KernelExpr = {
    require(es.length == 1 + params.length && es.tail.forall(_.foldable),
      s"$name takes an input column and ${params.length} literal parameter(s)")
    KernelExpr(this, es.head, es.tail.zip(params).map { case (e, t) => Cast(e, t).eval() })
  }
}

/** The codegen'd expression of every [[KernelTable]] row: nulls in,
  * nulls out, and the generated code is the row's one static call, so
  * the enclosing stage stays inside whole-stage codegen.
  */
case class KernelExpr(kernel: Kernel, child: Expression, params: Seq[Any])
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = kernel.result
  override def nullable: Boolean = kernel.nullable || child.nullable
  override def prettyName: String = kernel.name
  override def inputTypes = Seq(kernel.input)
  // plans print graft_x(input, params...), never the table row
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ params

  override def nullSafeEval(input: Any): Any =
    try kernel.resolved.invoke(null, (input +: params).map(_.asInstanceOf[AnyRef]): _*)
    catch {
      case e: java.lang.reflect.InvocationTargetException if e.getCause != null => throw e.getCause
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def call(c: String): String = (c +: params.map {
      case l: Long => s"${l}L"
      case v       => v.toString
    }).mkString(s"${KernelTable.Ops}.${kernel.method}(", ", ", ")")
    if (kernel.nullable)
      nullSafeCodeGen(ctx, ev, c => s"""
        |${ev.value} = ${call(c)};
        |${ev.isNull} = ${ev.value} == null;
        |""".stripMargin)
    else defineCodeGen(ctx, ev, call)
  }

  override protected def withNewChildInternal(newChild: Expression): KernelExpr = copy(child = newChild)
}

/** Every kernel that is one static [[GraftHashOps]] call on one input
  * column plus optional literal parameters, declared once: its SQL
  * name, method, input and result types and nullability. A kernel
  * belongs here unless its expression has to do more than forward the
  * call — derive arguments from the input's type, check inputs beyond
  * their type, or hold state that is not a literal; those keep their
  * own class below.
  */
object KernelTable {
  private[plans] val Ops = "graft.plans.GraftHashOps"

  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  /** Exact integer pixel moments, shared by the five image decoders. */
  private val PixelMoments = struct(
    "valid" -> BooleanType, "width" -> IntegerType, "height" -> IntegerType,
    "n_px" -> LongType, "sum_r" -> LongType, "sum_g" -> LongType, "sum_b" -> LongType,
    "peak" -> IntegerType, "sum_luma_milli" -> LongType)

  private val ArchiveMoments = struct(
    "valid" -> BooleanType, "n_entries" -> IntegerType, "total_bytes" -> LongType,
    "sum_bytes" -> LongType, "max_entry_bytes" -> LongType)

  private val ByteMoments = struct(
    "valid" -> BooleanType, "n_bytes" -> LongType, "sum_bytes" -> LongType,
    "max_byte" -> IntegerType)

  /** Codec decoders; `units` names the LZ4 block, Snappy chunk or
    * protobuf field count.
    */
  private def codecMoments(units: String) = struct(
    "valid" -> BooleanType, units -> IntegerType, "n_bytes" -> LongType,
    "sum_bytes" -> LongType, "max_byte" -> IntegerType)

  val rows: Seq[Kernel] = Seq(
    // text
    Kernel("graft_clean_text", "cleanText", StringType, StringType),
    Kernel("graft_simhash", "simhash60", StringType, LongType),
    Kernel("graft_simhash_wide", "simhash120", StringType, ArrayType(LongType, containsNull = false)),
    Kernel("graft_cdc_bounds", "cdcBounds", StringType, ArrayType(IntegerType, containsNull = false),
      params = Seq(LongType, IntegerType)),
    Kernel("graft_fh_embed", "featureHash", StringType, ArrayType(DoubleType, containsNull = false),
      params = Seq(IntegerType)),
    Kernel("graft_word_ngrams", "wordNgrams",
      ArrayType(StringType, containsNull = true), ArrayType(StringType, containsNull = true),
      nullable = true, params = Seq(IntegerType)),
    Kernel("graft_bpe_stats", "bpeStats", StringType,
      struct("n_words" -> LongType, "n_tokens" -> LongType, "n_oov" -> LongType)),
    Kernel("graft_bpe_tokens", "bpeTokens", StringType, ArrayType(StringType, containsNull = false)),
    // series
    Kernel("graft_ema_arr", "emaArrSeries",
      ArrayType(DoubleType, containsNull = true), ArrayType(DoubleType, containsNull = true),
      nullable = true, params = Seq(DoubleType)),
    Kernel("graft_cumsum_arr", "cumSumSeries",
      ArrayType(DoubleType, containsNull = true), ArrayType(DoubleType, containsNull = true),
      nullable = true),
    // binary payloads
    Kernel("graft_byte_stats", "byteStats", BinaryType, struct(
      "n_bytes" -> LongType, "distinct_bytes" -> IntegerType, "top_byte" -> IntegerType,
      "top_count" -> LongType, "entropy" -> DoubleType)),
    Kernel("graft_wav_stats", "wavPcmStats", BinaryType, struct(
      "valid" -> BooleanType, "sample_rate" -> IntegerType, "n_channels" -> IntegerType,
      "bits" -> IntegerType, "n_samples" -> LongType, "peak_abs" -> IntegerType,
      "sum_s" -> LongType, "sum_sq" -> LongType)),
    Kernel("graft_g711_stats", "g711Stats", BinaryType, struct(
      "valid" -> BooleanType, "fmt_tag" -> IntegerType, "sample_rate" -> IntegerType,
      "n_samples" -> LongType, "peak_abs" -> IntegerType, "sum_s" -> LongType,
      "sum_sq" -> LongType)),
    Kernel("graft_bmp_stats", "bmpPixelStats", BinaryType, PixelMoments),
    Kernel("graft_png_stats", "pngPixelStats", BinaryType, PixelMoments),
    Kernel("graft_jpeg_stats", "jpegStats", BinaryType, PixelMoments),
    Kernel("graft_qoi_stats", "qoiPixelStats", BinaryType, PixelMoments),
    Kernel("graft_gif_stats", "gifPixelStats", BinaryType, PixelMoments),
    Kernel("graft_zip_stats", "zipStats", BinaryType, ArchiveMoments),
    Kernel("graft_targz_stats", "targzStats", BinaryType, ArchiveMoments),
    Kernel("graft_deflate_stats", "deflateStats", BinaryType, ByteMoments),
    Kernel("graft_b64_stats", "base64Stats", BinaryType, ByteMoments),
    Kernel("graft_utf8_stats", "utf8Stats", BinaryType, struct(
      "valid" -> BooleanType, "n_bytes" -> LongType, "n_codepoints" -> LongType,
      "n_ascii" -> LongType, "n_2byte" -> LongType, "n_3byte" -> LongType,
      "n_4byte" -> LongType, "max_cp" -> IntegerType)),
    Kernel("graft_utf16_stats", "utf16Stats", BinaryType, struct(
      "valid" -> BooleanType, "n_bytes" -> LongType, "n_codepoints" -> LongType,
      "n_bmp" -> LongType, "n_supplementary" -> LongType, "max_cp" -> IntegerType,
      "sum_cp" -> LongType)),
    Kernel("graft_punycode_stats", "punycodeStats", BinaryType, struct(
      "valid" -> BooleanType, "n_codepoints" -> LongType, "n_basic" -> LongType,
      "n_extended" -> LongType, "max_cp" -> IntegerType, "sum_cp" -> LongType)),
    Kernel("graft_lz4_stats", "lz4Stats", BinaryType, codecMoments("n_blocks")),
    Kernel("graft_snappy_stats", "snappyStats", BinaryType, codecMoments("n_chunks")),
    Kernel("graft_proto_stats", "protoStats", BinaryType, codecMoments("n_fields")))

  private val byName: Map[String, Kernel] = rows.map(k => k.name -> k).toMap

  /** Column form of `name(input, params...)` for Scala callers, which
    * need no function registration in their session.
    */
  def column(name: String, input: org.apache.spark.sql.Column, params: Any*): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(byName(name).build(GraftShim.expression(input) +: params.map(Literal(_))))
  }
}

/** Sequential dot product of two array<double> columns — bit-identical
  * to the interpreted HOF chain it replaces,
  * aggregate(zip_with(a, b, (x,y) => x*y), 0.0, (acc,x) => acc+x):
  * the same left-to-right IEEE sequence acc = acc + a(i)*b(i) seeded
  * at 0.0, null when either side is null, when the lengths differ
  * (zip_with pads the short side with null, poisoning the fold), or
  * when any element is null. VectorFunctionsSpec pins the equivalence
  * on every edge. Exists because HigherOrderFunction is
  * CodegenFallback: every per-row dot in the similarity family was
  * paying interpreted per-element lambda dispatch.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean  = true
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(
      s"graft_dot needs array inputs, got $other")
  }

  // captured at construction (driver-side, session conf in scope):
  // the long·long mode must mirror the HOF chain's multiply, which
  // THROWS on overflow under ANSI (Spark 4 default) but WRAPS with
  // ANSI off — an unconditional multiplyExact would break the
  // claimed bit-identical equivalence in non-ANSI sessions
  private val ansiLongMul: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  // resolved element types -> the GraftHashOps.dotSeq arithmetic mode
  // (each reproduces the HOF chain's implicit-promotion arithmetic)
  private lazy val mode: Int = (elemType(left), elemType(right)) match {
    case (DoubleType, DoubleType) => 0
    case (LongType, LongType)     => if (ansiLongMul) 1 else 4
    case (LongType, DoubleType)   => 2
    case (DoubleType, LongType)   => 3
    case (l, r) => throw new IllegalArgumentException(
      s"graft_dot supports array<double|long> elements, got ($l, $r)")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftHashOps.dotSeq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |Object dotRes = graft.plans.GraftHashOps.dotSeq($a, $b, $mode);
      |if (dotRes == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ((Double) dotRes).doubleValue(); }
      |""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** k-lane MinHash signature of a document's distinct word `n`-gram
  * shingles (see GraftHashOps.minhashSig for the hash family).
  * Returns array<long> of length k, or null when the text has no
  * shingle (fewer than n tokens).
  */
case class MinHashSig(child: Expression, k: Int, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean  = true
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    GraftHashOps.minhashSig(input.asInstanceOf[UTF8String], k, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.plans.GraftHashOps.minhashSig($c, $k, $n);
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig = copy(child = newChild)
}

/** Random-hyperplane LSH bucket of an embedding column (array<float>
  * or array<double>) — all `planes` projections fold per row inside
  * the scan stage (see GraftHashOps.lshBucket).
  */
case class LshBucket(child: Expression, planes: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  private def floatElems: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_lsh_bucket needs array<float|double>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    GraftHashOps.lshBucket(input.asInstanceOf[ArrayData], planes, floatElems)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHashOps.lshBucket($c, $planes, $floatElems)")

  override protected def withNewChildInternal(newChild: Expression): LshBucket = copy(child = newChild)
}

/** IVF coarse-quantizer cell assignment: nearest centroid by squared
  * L2, ties to the lowest cell id (see GraftHashOps.ivfAssign). The
  * centroid table is expression state (a few KB), embedded in the
  * generated code via a reference object — per row the whole argmin
  * runs as one static JVM call inside whole-stage codegen, bit-equal
  * to the interpreted HOF fold it replaces (spec-asserted).
  */
case class IvfAssign(child: Expression, cents: Seq[Seq[Double]]) extends UnaryExpression {
  require(cents.nonEmpty && cents.forall(_.length == cents.head.length),
    "graft_ivf_assign needs a non-empty rectangular centroid table")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_assign"

  @transient private lazy val flat: Array[Double] = cents.flatten.toArray

  private def dim: Int = cents.head.length

  // the null-element scan only compiles in when the array schema
  // admits nulls; on the common containsNull=false schema the hot
  // loop carries no per-element branch
  private def checkNulls: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _                => true
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_ivf_assign needs array<double>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    GraftHashOps.ivfAssign(input.asInstanceOf[ArrayData], flat, dim, checkNulls)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCents", flat, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHashOps.ivfAssign($c, $centsRef, $dim, $checkNulls)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfAssign = copy(child = newChild)
}

/** Nearest-centroid index against a PER-ROW centroid table — the
  * column-input twin of [[IvfAssign]] used by the two-level celled
  * assignment: the fine centroids join in as array<array<double>>
  * data (ordered by fine index) instead of broadcasting the whole
  * quantizer as a plan literal, so the driver never holds more than
  * the coarse table. See GraftHashOps.ivfAssignNested for the kernel
  * contract (ascending-order d2 fold, ties to the lowest index).
  */
case class IvfAssignNested(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_assign_nested"

  private def checkNulls: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, cnV), ArrayType(_, cnF)) => cnV || cnF
    case _                                      => true
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_ivf_assign_nested needs (array<double>, array<array<double>>), got ($l, $r)")
    }

  override def nullSafeEval(v: Any, fcs: Any): Any =
    GraftHashOps.ivfAssignNested(v.asInstanceOf[ArrayData], fcs.asInstanceOf[ArrayData], checkNulls)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, f) =>
      s"graft.plans.GraftHashOps.ivfAssignNested($v, $f, $checkNulls)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IvfAssignNested =
    copy(left = newLeft, right = newRight)
}

/** Runtime registration (Verify/Bench path) and a
  * SparkSessionExtensions hook for cluster deployments
  * (--conf spark.sql.extensions=graft.plans.GraftExtensions).
  */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] =
    KernelTable.rows.map(k => (k.name, k.build _)) ++ Seq(
      ("graft_minhash_sig", (es: Seq[Expression]) => MinHashSig(es.head, 8, 3)),
      ("graft_lsh_bucket", (es: Seq[Expression]) =>
        LshBucket(es(0), es(1).eval().asInstanceOf[Number].intValue())),
      ("graft_ivf_assign", (es: Seq[Expression]) => {
        val ad = es(1).eval().asInstanceOf[ArrayData]
        val cents = (0 until ad.numElements()).map(i => ad.getArray(i).toDoubleArray().toSeq)
        IvfAssign(es(0), cents)
      }),
      ("graft_replicate_sums", (es: Seq[Expression]) =>
        ReplicateSums(es(0), es(1), es(2).eval().asInstanceOf[Number].intValue())),
      ("graft_ema", (es: Seq[Expression]) =>
        EmaAggregate(es(0), es(1), es(2).eval().asInstanceOf[Number].intValue(),
          maxBufferRows = EmaAggregate.confMaxBufferRows)),
      ("graft_ema_series", (es: Seq[Expression]) =>
        EmaSeriesAggregate(es(0), es(1), es(2).eval().asInstanceOf[Number].intValue(),
          maxBufferRows = EmaAggregate.confMaxBufferRows)))

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
}

class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.Expressions", name),
        builder))
    }
    // cluster deploys get the custom as-of physical strategy without
    // the call-site experimental-strategies registration
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
