package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Distinct xxhash64 values of all n-word shingles of a text column, in
  * one zero-copy pass — array<long>, first-occurrence order.
  *
  * Semantically identical to the declarative pipeline
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ', w[i-1],…)))`
  * followed by `xxhash64(shingle)` (and bitwise-equal to it: an n-word
  * shingle of a single-space-split text IS a contiguous byte slice of the
  * original string, and both paths hash those bytes with seed-42 XXH64).
  * The HOF form evaluates its lambdas interpreted and materializes every
  * shingle string; this expression scans the UTF-8 bytes once, hashing
  * each word window in place — the dominant cost of every text-dedup
  * variant (shingling runs over the full corpus) drops to a tight
  * codegen'd loop.
  *
  * Texts with fewer than n words hash as one whole-text shingle (same
  * CASE the declarative form used). Word splitting mirrors
  * `split(text, " ")` with its keep-empty-segments semantics: every
  * 0x20 byte is a separator (safe byte-wise — UTF-8 continuation bytes
  * are always >= 0x80).
  */
case class WordShingleHashes(child: Expression, n: Int = 3, seed: Long = 42L)
    extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  def computeRow(s: UTF8String): ArrayData = WordShingleHashes.compute(s, n, seed)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("shingler", this, classOf[WordShingleHashes].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "word_shingle_hashes"
}

object WordShingleHashes {

  def compute(s: UTF8String, n: Int, seed: Long): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    var spaces = 0
    var i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == 0x20) spaces += 1
      i += 1
    }
    val nWords = spaces + 1
    if (nWords < n)
      return new GenericArrayData(Array(XXH64.hashUnsafeBytes(base, off, len, seed)))
    val starts = new Array[Int](nWords)
    var w = 1
    i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    val nSh = nWords - n + 1
    val out = new Array[Long](nSh)
    val seen = new java.util.HashSet[java.lang.Long](nSh * 2)
    var cnt = 0
    var k = 0
    while (k < nSh) {
      val start = starts(k)
      val end = if (k + n < nWords) starts(k + n) - 1 else len // exclusive
      val h = XXH64.hashUnsafeBytes(base, off + start, end - start, seed)
      if (seen.add(h)) { out(cnt) = h; cnt += 1 }
      k += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, cnt))
  }
}

/** COUNT of common elements of two SORTED long arrays (strictly
  * ascending, as array_sort over a distinct set produces) — the
  * exact-verification kernel of the dedup families. A two-pointer merge
  * with ZERO allocation: `size(array_intersect(a, b))` builds a hash set
  * AND materializes the intersection array per pair, which dominated the
  * all-pairs exact-regime verify (q_dedup_minhash, 14 s at sf0.1); this
  * kernel is a tight codegen'd loop over the primitive longs. Equal to
  * `size(array_intersect(a, b))` on distinct-element inputs regardless
  * of order (property-tested in TextFunctionsSpec).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val obj = ctx.addReferenceObj("sic", this, classOf[SortedIntersectCount].getName)
      s"${ev.value} = $obj.count($a, $b);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : SortedIntersectCount = copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_count"
}

/** The text split into consecutive k-word segments, as strings —
  * array<string> of ceil(nWords / k) elements, one pass over the UTF-8
  * bytes (each segment is a contiguous byte slice; UTF8String.fromBytes
  * wraps the region without copying). Byte-equal to
  * `transform(sequence(0, ceil(size(ws)/k)-1),
  *            j -> array_join(slice(ws, j*k+1, k), ' '))`
  * over `ws = split(text, " ")`, but codegen instead of interpreted
  * lambdas — the segmenting pass of corpus segment dedup.
  */
case class WordSegments(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, s"segment width must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  def computeRow(s: UTF8String): ArrayData = WordSegments.compute(s, k)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("segmenter", this, classOf[WordSegments].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordSegments =
    copy(child = newChild)

  override def prettyName: String = "word_segments"
}

object WordSegments {

  def compute(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes // one copy; segments wrap regions of it
    val len = bytes.length
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val nWords = spaces + 1
    val starts = new Array[Int](nWords)
    var w = 1
    i = 0
    while (i < len) { if (bytes(i) == 0x20) { starts(w) = i + 1; w += 1 }; i += 1 }
    val nSeg = (nWords + k - 1) / k
    val out = new Array[AnyRef](nSeg)
    var j = 0
    while (j < nSeg) {
      val start = starts(j * k)
      val end = if ((j + 1) * k < nWords) starts((j + 1) * k) - 1 else len // exclusive
      out(j) = UTF8String.fromBytes(bytes, start, end - start)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Whole MinHash signature in one pass: out[i] = min over h in the input
  * array of xxhash64(i, h), for i in 0 until numHashes — array<long> of
  * numHashes slots (Long.MaxValue slots for an empty array).
  *
  * Bitwise-equal to the aggregate formulation
  * `explode(hs) -> groupBy(doc).agg(min(xxhash64(lit(i), h)) for i)`:
  * SQL xxhash64(lit(i), h) folds seed 42 through the int then the long,
  * so per-function seeds precompute as XXH64.hashInt(i, 42) and each
  * element costs one XXH64.hashLong. The aggregate form needs an explode
  * plus a 65-column hash aggregation whose generated update method is
  * large enough that janino+JIT dominate a cold run (~5 s at sf0.1); this
  * is a per-row loop in one small codegen unit, no shuffle at all.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature expects array<bigint>, got ${other.catalogString}")
    }

  // seed_i = xxhash64 state after hashing the int literal i with seed 42,
  // identical to SQL xxhash64(lit(i), h)'s first fold
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  def computeRow(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = a.getLong(j)
      var i = 0
      while (i < numHashes) {
        val v = XXH64.hashLong(h, seeds(i))
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("minhasher", this, classOf[MinHashSignature].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

/** 64-bit SimHash fingerprint of a text column in one pass: every
  * space-separated token (empty segments included, mirroring
  * `split(text, " ")`) votes its seed-42 xxhash64 bits +1/-1; bit i of
  * the fingerprint is set iff the vote sum is positive.
  *
  * Bitwise-equal to the aggregate formulation
  * `explode(split) -> xxhash64(w) -> 64 conditional sums -> bit assembly`
  * (XXH64.hashUnsafeBytes over a token's byte slice IS SQL
  * xxhash64(string), spec-proven) — but per-row: no explode, no 64-column
  * aggregation shuffle, no giant generated update method.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects a string column, got ${child.dataType.catalogString}")

  def computeRow(s: UTF8String): Long = SimHash64.compute(s)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("simhasher", this, classOf[SimHash64].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {

  def compute(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    val votes = new Array[Int](64)
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || Platform.getByte(base, off + i) == 0x20) {
        val h = XXH64.hashUnsafeBytes(base, off + start, i - start, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}

/** 60-bit MD5-regime SimHash — the ORACLE-ABLE sibling of [[SimHash64]].
  *
  * Same vote algebra (every space-separated token, empty segments
  * included, votes its hash bits +1/-1; bit set iff the sum is positive),
  * but the per-token hash is the first 15 hex digits of `md5(token)`
  * parsed as a 60-bit integer — an arithmetic DuckDB replays exactly
  * (`md5()` + hex-digit positional sum), unlike seed-42 xxhash64 which it
  * has no primitive for. 60 bits (not 64) so the parsed value fits a
  * signed long on both engines; the 4×16-bit Hamming banding is unchanged
  * (top band's high 4 bits are zero for every row, so pigeonhole
  * losslessness for radius <= 3 still holds). The xxhash64 form stays the
  * production fingerprint (one multiply-rotate vs an MD5 block per token);
  * DedupSpec pins the two regimes find the same planted near-dup pairs.
  */
case class Md5SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"md5_simhash60 expects a string column, got ${child.dataType.catalogString}")

  def computeRow(s: UTF8String): Long = Md5SimHash60.compute(s)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("md5simhasher", this, classOf[Md5SimHash60].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Md5SimHash60 =
    copy(child = newChild)

  override def prettyName: String = "md5_simhash60"
}

object Md5SimHash60 {

  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** 60-bit token hash: big-endian long of the digest's first 8 bytes,
    * unsigned-shifted 4 — i.e. hex digits 1..15 of md5(token), exactly
    * `sum_j (hexdigit_j << 4*(15-j))` on the oracle side.
    */
  def tokenHash(bytes: Array[Byte], start: Int, len: Int): Long = {
    val d = digest.get()
    d.reset()
    d.update(bytes, start, len)
    val h = d.digest()
    var v = 0L
    var k = 0
    while (k < 8) { v = (v << 8) | (h(k) & 0xffL); k += 1 }
    v >>> 4
  }

  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    val len = bytes.length
    val votes = new Array[Int](60)
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        val h = tokenHash(bytes, start, i - start)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}

/** Band keys of the PORTABLE md5 minhash family over string shingles —
  * sig[i] = lexicographic min over shingles of md5hex(i ":" shingle),
  * band key b = md5hex(sig[b*rows] "," ... sig[b*rows+rows-1]) — as ONE
  * tight loop per row (the StubAHashKeys/Md5SimHash60 static-call
  * codegen pattern). Exists because the declarative nested-HOF
  * formulation (transform -> array_min -> transform md5(concat)) runs
  * its lambdas interpreted with per-element UTF8String churn: measured
  * 21 s at sf0.1 on q_lsh_recall vs ~1 s for this pass. Arithmetic is
  * bit-identical to the DuckDB oracle CTE chain: hex strings compare
  * exactly like the digest bytes unsigned-lexicographically, so the min
  * runs on raw digests and hex-encodes once.
  */
case class Md5MinhashBandKeys(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_minhash_band_keys expects array<string>, got ${other.catalogString}")
    }

  def computeRow(arr: ArrayData): ArrayData =
    Md5MinhashBandKeys.compute(arr, bands, rows)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("mmbk", this, classOf[Md5MinhashBandKeys].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Md5MinhashBandKeys =
    copy(child = newChild)

  override def prettyName: String = "md5_minhash_band_keys"
}

object Md5MinhashBandKeys {

  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private val HEX = "0123456789abcdef".toCharArray

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var k = 0
    while (k < a.length) {
      val x = a(k) & 0xff; val y = b(k) & 0xff
      if (x != y) return x < y
      k += 1
    }
    false
  }

  private def hex(h: Array[Byte], sb: java.lang.StringBuilder): Unit = {
    var k = 0
    while (k < h.length) {
      sb.append(HEX((h(k) >> 4) & 0xf)); sb.append(HEX(h(k) & 0xf))
      k += 1
    }
  }

  def compute(arr: ArrayData, bands: Int, rows: Int): ArrayData = {
    val nh = bands * rows
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val sbytes = new Array[Array[Byte]](n)
    var j = 0
    while (j < n) { sbytes(j) = arr.getUTF8String(j).getBytes; j += 1 }
    val d = digest.get()
    val mins = new Array[Array[Byte]](nh)
    var i = 0
    while (i < nh) {
      val prefix = (i.toString + ":").getBytes
      var best: Array[Byte] = null
      var k = 0
      while (k < n) {
        d.reset(); d.update(prefix); d.update(sbytes(k))
        val h = d.digest()
        if (best == null || unsignedLess(h, best)) best = h
        k += 1
      }
      mins(i) = best
      i += 1
    }
    val keys = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(rows * 33)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append(',')
        hex(mins(b * rows + r), sb)
        r += 1
      }
      d.reset(); d.update(sb.toString.getBytes)
      val out = new java.lang.StringBuilder(32)
      hex(d.digest(), out)
      keys(b) = org.apache.spark.unsafe.types.UTF8String.fromString(out.toString)
      b += 1
    }
    new GenericArrayData(keys)
  }
}

/** Custom Generator (UDTF surface, the extension point explode/posexplode
  * cover for built-ins): one output row per DISTINCT n-word shingle hash
  * of the text — the row-generating form of WordShingleHashes, usable
  * from SQL as `LATERAL VIEW shingle_rows(text) t AS sh` once injected by
  * GraftExtensions. Generators run inside GenerateExec (codegen applies
  * to the child; the generator itself evaluates row-at-a-time, exactly
  * like every non-builtin generator — the hot dedup paths keep using the
  * array expression + explode, which IS codegen'd end to end).
  */
case class ShingleRows(child: Expression, n: Int = 3)
    extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def elementSchema: StructType =
    StructType(StructField("sh", LongType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) Iterator.empty
    else {
      val arr = WordShingleHashes.compute(s, n, 42L)
      Iterator.tabulate(arr.numElements())(i => InternalRow(arr.getLong(i)))
    }
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_rows expects a string column, got ${child.dataType.catalogString}")

  override protected def withNewChildInternal(newChild: Expression): ShingleRows =
    copy(child = newChild)

  override def prettyName: String = "shingle_rows"
}

object ShingleRows {

  /** SQL builder shared by GraftExtensions and the temp-function fallback:
    * shingle_rows(text[, n]) with n a literal int >= 1 (default 3) —
    * both registration paths MUST accept the same argument forms.
    */
  val fromSql: Seq[Expression] => ShingleRows = { exprs =>
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(exprs.nonEmpty && exprs.length <= 2,
      s"shingle_rows takes 1 or 2 arguments, got ${exprs.length}")
    val n = if (exprs.length > 1) exprs(1) match {
      case Literal(i: Int, _) if i >= 1 => i
      case other => throw new IllegalArgumentException(
        s"shingle_rows: n must be a literal int >= 1, got $other")
    } else 3
    ShingleRows(exprs.head, n)
  }
}

/** Overlapping k-word windows at a fixed stride — the training-data
  * CHUNKING primitive (context-length windows with overlap k − stride),
  * as array<string> of contiguous byte slices in one pass. Window j
  * starts at word j·stride; the window count is 1 for texts of at most k
  * words, else ceil((nWords − k) / stride) + 1 — the last window covers
  * the tail (and may be shorter than k). [[WordSegments]] is the
  * stride = k special case. Byte-equal to
  * `transform(sequence(0, nWin−1), j -> array_join(slice(ws, j*stride+1, k), ' '))`
  * over `ws = split(text, " ")`, but codegen instead of interpreted
  * lambdas.
  */
case class WordWindows(child: Expression, k: Int, stride: Int)
    extends UnaryExpression {

  require(k >= 1, s"window width must be >= 1, got $k")
  require(stride >= 1 && stride <= k,
    s"stride must be in [1, k], got $stride (k = $k)")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"word_windows expects a string column, got ${child.dataType.catalogString}")

  def computeRow(s: UTF8String): ArrayData = WordWindows.compute(s, k, stride)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("windower", this, classOf[WordWindows].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordWindows =
    copy(child = newChild)

  override def prettyName: String = "word_windows"
}

object WordWindows {

  def compute(s: UTF8String, k: Int, stride: Int): ArrayData = {
    val bytes = s.getBytes // one copy; windows wrap regions of it
    val len = bytes.length
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val nWords = spaces + 1
    val starts = new Array[Int](nWords)
    var w = 1
    i = 0
    while (i < len) { if (bytes(i) == 0x20) { starts(w) = i + 1; w += 1 }; i += 1 }
    val nWin =
      if (nWords <= k) 1
      else (nWords - k + stride - 1) / stride + 1 // ceil((n-k)/stride) + 1
    val out = new Array[AnyRef](nWin)
    var j = 0
    while (j < nWin) {
      val first = j * stride
      val start = starts(first)
      val end = if (first + k < nWords) starts(first + k) - 1 else len // exclusive
      out(j) = UTF8String.fromBytes(bytes, start, end - start)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Rolling Karp-Rabin polynomial fingerprint of the codepoint stream:
  * acc = (acc * 31 + codepoint) mod 1e9+7, acc0 = 0 — one codegen pass
  * over the UTF-8 bytes decoding codepoints in place.
  *
  * Value-equal to the declarative fold
  * `aggregate(transform(split(text, ''), c -> ascii(c)), 0L,
  *            (acc, x) -> (acc * 31 + x) % 1000000007)`
  * (split('') yields one string per codepoint and `ascii` returns its
  * codepoint), and to DuckDB's list_reduce form of the same recurrence —
  * but the HOF form evaluates its lambdas interpreted PER CHARACTER,
  * which round 3's bench measured at 6.09 s for sf0.1 (the worst line of
  * the suite). acc stays < 1e9 so acc*31 + cp never overflows a long —
  * ANSI-safe without widening.
  */
case class KarpRabinFingerprint(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"karp_rabin_fingerprint expects a string column, got ${child.dataType.catalogString}")

  def computeRow(s: UTF8String): Long = KarpRabinFingerprint.compute(s)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("krFingerprinter", this, classOf[KarpRabinFingerprint].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): KarpRabinFingerprint =
    copy(child = newChild)

  override def prettyName: String = "karp_rabin_fingerprint"
}

object KarpRabinFingerprint {

  private val Mod = 1000000007L

  def compute(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    var acc = 0L
    var i = 0
    while (i < len) {
      val b0 = Platform.getByte(base, off + i) & 0xFF
      var cp = 0
      var nb = 1
      if (b0 < 0x80) cp = b0
      else if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; nb = 2 }
      else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; nb = 3 }
      else { cp = b0 & 0x07; nb = 4 }
      var j = 1
      while (j < nb && i + j < len) {
        cp = (cp << 6) | (Platform.getByte(base, off + i + j) & 0x3F)
        j += 1
      }
      acc = (acc * 31L + cp) % Mod
      i += nb
    }
    acc
  }
}

/** Hashed-feature linear text classifier score in one pass over the
  * UTF-8 bytes (the fasttext-style "score every document with a tiny
  * linear model" curation step, with a deterministic public weight
  * scheme so the oracle can mirror it). Per word (split on 0x20, empty
  * segments skipped): the word's Karp-Rabin codepoint fold
  * `acc = (acc*31 + cp) % 1e9+7` (identical recurrence to
  * [[KarpRabinFingerprint]]) is bucketed into 256 features
  * (`acc % 256`), each feature carrying the fixed integer weight
  * `(bucket * 2654435761) % 2001 - 1000` (Knuth multiplicative hash →
  * [-1000, 1000]); the result is the integer weight sum — the caller
  * divides by `1000 * n_words` for the [-1, 1] score, keeping every
  * engine-crossing value integer-exact.
  *
  * Equals the DuckDB form
  * `list_sum(list_transform(list_filter(string_split(text,' '), w -> w <> ''),
  *    w -> ((list_reduce(list_prepend(0::BIGINT,
  *            list_transform(string_split(w,''), c -> ascii(c)::BIGINT)),
  *          (a,x) -> (a*31+x) % 1000000007) % 256) * 2654435761) % 2001 - 1000))`.
  */
case class LinearTextScore(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"linear_text_score expects a string column, got ${child.dataType.catalogString}")

  def computeRow(s: UTF8String): Long = LinearTextScore.compute(s)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("linScorer", this, classOf[LinearTextScore].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): LinearTextScore =
    copy(child = newChild)

  override def prettyName: String = "linear_text_score"
}

object LinearTextScore {

  private val Mod = 1000000007L
  private val Knuth = 2654435761L

  def compute(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    var score = 0L
    var acc = 0L
    var sawChar = false
    var i = 0
    while (i < len) {
      val b0 = Platform.getByte(base, off + i) & 0xFF
      if (b0 == 0x20) {
        if (sawChar) score += (acc % 256L) * Knuth % 2001L - 1000L
        acc = 0L
        sawChar = false
        i += 1
      } else {
        var cp = 0
        var nb = 1
        if (b0 < 0x80) cp = b0
        else if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; nb = 2 }
        else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; nb = 3 }
        else { cp = b0 & 0x07; nb = 4 }
        var j = 1
        while (j < nb && i + j < len) {
          cp = (cp << 6) | (Platform.getByte(base, off + i + j) & 0x3F)
          j += 1
        }
        acc = (acc * 31L + cp) % Mod
        sawChar = true
        i += nb
      }
    }
    if (sawChar) score += (acc % 256L) * Knuth % 2001L - 1000L
    score
  }
}

/** Per-document word statistics in one pass over the UTF-8 bytes:
  * struct<n_tokens, n_uniq, sum_len, stop_hits> (all long) where words
  * are the `split(text, " ")` segments (every 0x20 byte is a separator,
  * empty segments kept — same convention as [[WordShingleHashes]]),
  * lengths count codepoints (= what `length(w)` returns), uniqueness is
  * exact (byte-wise HashSet of zero-copy slices, no hashing shortcut),
  * and stop_hits counts tokens equal to any of the `stopwords` (with
  * multiplicity — the `size(filter(ws, w -> array_contains(...)))`
  * convention).
  *
  * Field-equal to the interpreted-lambda formulation quality scoring and
  * language-ID previously used (size/array_distinct/aggregate/filter over
  * split) — those queries spent ~0.5 s each at sf0.1 evaluating per-token
  * interpreted lambdas; this is the [[SimHash64]]/[[MinHashSignature]]
  * treatment applied to the corpus-quality family.
  */
case class WordStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = WordStats.schema
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"word_stats expects a string column, got ${child.dataType.catalogString}")

  @transient private lazy val stopU: Array[UTF8String] =
    stopwords.map(UTF8String.fromString).toArray

  def computeRow(s: UTF8String): InternalRow = WordStats.compute(s, stopU)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("wordStats", this, classOf[WordStats].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordStats =
    copy(child = newChild)

  override def prettyName: String = "word_stats"
}

object WordStats {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_uniq", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))

  def compute(s: UTF8String, stopwords: Array[UTF8String]): InternalRow = {
    val bytes = s.getBytes // one copy; word slices wrap regions of it
    val len = bytes.length
    var spaces = 0
    var codepoints = 0L
    var i = 0
    while (i < len) {
      val b = bytes(i)
      if (b == 0x20) spaces += 1
      if ((b & 0xC0) != 0x80) codepoints += 1 // count non-continuation bytes
      i += 1
    }
    val nTokens = spaces + 1L
    val sumLen = codepoints - spaces // every word codepoint except the separators
    val seen = new java.util.HashSet[UTF8String](spaces * 2 + 2)
    var stopHits = 0L
    var start = 0
    i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        val w = UTF8String.fromBytes(bytes, start, i - start)
        seen.add(w)
        var k = 0
        while (k < stopwords.length) {
          if (stopwords(k).equals(w)) { stopHits += 1; k = stopwords.length }
          else k += 1
        }
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, seen.size.toLong, sumLen, stopHits))
  }
}

/** Token hits against SEVERAL marker-word lists in one pass:
  * array<long> with one slot per profile, slot i counting the tokens
  * (split(text, " ") segments, with multiplicity) equal to any word of
  * `profiles(i)` — the language-ID vote, where calling [[WordStats]] once
  * per language would re-scan the text per profile. Lists are tiny (a few
  * marker words each), so per-token matching is a linear probe over all
  * profiles' words.
  */
case class MarkerHits(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression {

  require(profiles.nonEmpty, "MarkerHits needs at least one profile")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"marker_hits expects a string column, got ${child.dataType.catalogString}")

  // flattened (profileIndex, word) pairs, converted once
  @transient private lazy val flatWords: Array[UTF8String] =
    profiles.flatten.map(UTF8String.fromString).toArray
  @transient private lazy val flatSlot: Array[Int] =
    profiles.zipWithIndex.flatMap { case (ws, i) => ws.map(_ => i) }.toArray

  def computeRow(s: UTF8String): ArrayData =
    MarkerHits.compute(s, profiles.length, flatWords, flatSlot)

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val obj = ctx.addReferenceObj("markerHits", this, classOf[MarkerHits].getName)
      s"${ev.value} = $obj.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): MarkerHits =
    copy(child = newChild)

  override def prettyName: String = "marker_hits"
}

object MarkerHits {

  def compute(s: UTF8String, nProfiles: Int,
      flatWords: Array[UTF8String], flatSlot: Array[Int]): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val hits = new Array[Long](nProfiles)
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        val w = UTF8String.fromBytes(bytes, start, i - start)
        var k = 0
        while (k < flatWords.length) {
          if (flatWords(k).equals(w)) hits(flatSlot(k)) += 1
          k += 1
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(hits)
  }
}

object TextFunctions {

  /** Distinct seed-42 xxhash64 of all n-word shingles of a string column. */
  def shingleHashes(c: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      WordShingleHashes(org.apache.spark.sql.graft.GraftSqlShims.expression(c), n))

  /** Consecutive k-word segments of a string column, as strings. */
  def wordSegments(c: Column, k: Int): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      WordSegments(org.apache.spark.sql.graft.GraftSqlShims.expression(c), k))

  /** numHashes-slot MinHash signature of an array<long> hash column. */
  def minhashSignature(c: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      MinHashSignature(org.apache.spark.sql.graft.GraftSqlShims.expression(c), numHashes))

  /** LSH bands of the MinHash signature column named `sig` (bands * rows
    * slots): one `struct(band, bh)` per band, bh the xxhash64 of the
    * band's `rows` slots. Explode it to join candidates on (band, bh).
    */
  def minhashBands(sig: String, bands: Int, rows: Int): Column =
    org.apache.spark.sql.functions.expr(
      s"transform(sequence(0, ${bands - 1}), b -> struct(b AS band, xxhash64(slice($sig, b * $rows + 1, $rows)) AS bh))")

  /** LSH bands of the 64-bit hash column named `h`: one `struct(band,
    * key)` per band, key the band's 64 / bands bits. Two hashes within
    * Hamming distance < bands share a key (pigeonhole).
    */
  def hammingBands(h: String, bands: Int): Column = {
    val keyBits = 64 / bands
    val mask = (1L << keyBits) - 1
    org.apache.spark.sql.functions.expr(
      s"transform(sequence(0, ${bands - 1}), b -> struct(b AS band, shiftright($h, b * $keyBits) & $mask AS key))")
  }

  /** One query term's BM25 score in one document: k1 = 1.2, b = 0.75
    * and the ratio idf (N - df + 0.5) / (df + 0.5), with no log, so that
    * every step is one IEEE op and Spark and DuckDB agree bit for bit.
    * `tf` is the term's count in the document, `dl` the document's
    * length, `avgdl` the corpus's mean length, `nDocs` its document
    * count and `df` the term's document frequency.
    */
  def bm25Term(tf: Column, dl: Column, avgdl: Column, nDocs: Column, df: Column): Column = {
    import org.apache.spark.sql.functions.lit
    tf * 2.2 / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (dl / avgdl))) *
      ((nDocs - df + 0.5) / (df + 0.5))
  }

  /** Common-element count of two sorted long arrays (allocation-free). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      SortedIntersectCount(org.apache.spark.sql.graft.GraftSqlShims.expression(a),
        org.apache.spark.sql.graft.GraftSqlShims.expression(b)))

  /** 64-bit SimHash fingerprint of a string column. */
  def simhash64(c: Column): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      SimHash64(org.apache.spark.sql.graft.GraftSqlShims.expression(c)))

  /** 60-bit MD5-regime SimHash (the DuckDB-replayable fingerprint). */
  def md5Simhash60(c: Column): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      Md5SimHash60(org.apache.spark.sql.graft.GraftSqlShims.expression(c)))

  /** Portable md5-family minhash band keys of an array<string> column. */
  def md5MinhashBandKeys(c: Column, bands: Int, rows: Int): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      Md5MinhashBandKeys(org.apache.spark.sql.graft.GraftSqlShims.expression(c), bands, rows))

  /** Karp-Rabin rolling polynomial fingerprint of a string column. */
  def karpRabinFingerprint(c: Column): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      KarpRabinFingerprint(org.apache.spark.sql.graft.GraftSqlShims.expression(c)))

  /** Hashed-feature linear classifier integer score (one byte pass). */
  def linearTextScore(c: Column): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      LinearTextScore(org.apache.spark.sql.graft.GraftSqlShims.expression(c)))

  /** One-pass word stats struct (n_tokens, n_uniq, sum_len, stop_hits). */
  def wordStats(c: Column, stopwords: Seq[String]): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      WordStats(org.apache.spark.sql.graft.GraftSqlShims.expression(c), stopwords))

  /** Per-profile marker-token hit counts (array<long>) in one pass. */
  def markerHits(c: Column, profiles: Seq[Seq[String]]): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      MarkerHits(org.apache.spark.sql.graft.GraftSqlShims.expression(c), profiles))

  /** Overlapping k-word windows at `stride` (chunking), as strings. */
  def wordWindows(c: Column, k: Int, stride: Int): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      WordWindows(org.apache.spark.sql.graft.GraftSqlShims.expression(c), k, stride))
}
