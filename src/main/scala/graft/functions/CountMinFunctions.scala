package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Count-Min sketch (Cormode & Muthukrishnan 2005) — the mergeable
  * FREQUENCY summary completing the warehouse sketch set (HLL/theta:
  * distinct counts; KLL: quantiles; CMS: per-key counts): depth d
  * counter rows of width w; a key increments one counter per row at
  * h_i(key); a point estimate is the MIN over rows — always >= the true
  * count, over by at most eps*N with probability 1-delta at
  * d = ln(1/delta), w = e/eps. Merging is elementwise addition, which is
  * EXACT (unlike the estimate): sketch(A ++ B) == sketch(A) + sketch(B)
  * bit-for-bit, so per-partition/per-day sketches roll up losslessly —
  * CmsSpec pins that identity and the overestimate bound.
  *
  * The row hashes are the standard pairwise-independent family
  * h_i(x) = ((a_i*x + b_i) mod p) mod w with p = 2^31-1 and COMMITTED
  * (a_i, b_i) constants — deliberately arithmetic, not xxhash: the
  * DuckDB oracle replays the exact bucket map (q_countmin), making CMS
  * the sketch family whose estimates are value-oracled, not just
  * spec-bounded.
  *
  * Same integration shape as the KLL/theta trios: TypedImperativeAggregate
  * with the long[] counter matrix as the partial buffer, serialized to a
  * flat little-endian byte image at shuffle/storage boundaries.
  */
object CountMin {
  val P = 2147483647L // 2^31 - 1 (Mersenne)
  val DefaultDepth = 4
  val DefaultWidth = 512
  // committed pairwise-independent parameters, rank = row (mirrored
  // verbatim into the q_countmin oracle SQL)
  val A: Array[Long] = Array(1103515245L, 214013L, 69069L, 1664525L,
    22695477L, 134775813L, 1103515245L ^ 0x5bd1e995L, 2147483629L)
  val B: Array[Long] = Array(12345L, 2531011L, 362437L, 1013904223L,
    1L, 269L, 1234567891L, 987654321L)

  def bucket(row: Int, x: Long, width: Int): Int = {
    val xm = ((x % P) + P) % P
    (((A(row) * xm + B(row)) % P) % width).toInt
  }

  def serialize(m: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(m.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    m.foreach(bb.putLong)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  def query(image: Array[Byte], key: Long, depth: Int, width: Int): Long = {
    val m = deserialize(image)
    require(m.length == depth * width,
      s"cms_query: image has ${m.length} counters, expected ${depth * width}")
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = m(r * width + bucket(r, key, width))
      if (c < best) best = c
      r += 1
    }
    best
  }
}

abstract class CmsAggLike extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {
  def depth: Int
  def width: Int
  // validated here, NOT in the constructor body: Java deserialization
  // instantiates the case class with zeroed fields before populating
  // them, so a constructor-time require fails on every executor
  private def validate(): Unit = {
    require(depth >= 1 && depth <= CountMin.A.length,
      s"cms depth must be in [1, ${CountMin.A.length}], got $depth")
    require(width >= 1, s"cms width must be >= 1, got $width")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): Array[Long] = {
    validate()
    new Array[Long](depth * width)
  }
  override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b.length) { b(i) += o(i); i += 1 }
    b
  }
  override def serialize(b: Array[Long]): Array[Byte] = CountMin.serialize(b)
  override def deserialize(bytes: Array[Byte]): Array[Long] = CountMin.deserialize(bytes)
  override def eval(b: Array[Long]): Any = CountMin.serialize(b)
}

/** cms_agg(key[, depth, width]): Count-Min sketch of a long or int key
  * column; any other key type fails analysis.
  */
case class CmsAgg(child: Expression,
    depth: Int = CountMin.DefaultDepth, width: Int = CountMin.DefaultWidth,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends CmsAggLike with org.apache.spark.sql.graft.GraftExpectsLongOrInt {

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v match {
        case l: Long => l
        case i: Int => i.toLong
        case other => throw new IllegalArgumentException(
          s"cms_agg: unsupported input ${other.getClass}")
      }
      var r = 0
      while (r < depth) {
        b(r * width + CountMin.bucket(r, x, width)) += 1
        r += 1
      }
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CmsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CmsAgg =
    copy(child = newChild)
  override def prettyName: String = "cms_agg"
}

/** cms_merge_agg(sketch_bytes[, depth, width]): elementwise-exact merge
  * of STORED sketch images.
  */
case class CmsMergeAgg(child: Expression,
    depth: Int = CountMin.DefaultDepth, width: Int = CountMin.DefaultWidth,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends CmsAggLike {

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val o = CountMin.deserialize(v.asInstanceOf[Array[Byte]])
      require(o.length == b.length,
        s"cms_merge_agg: image has ${o.length} counters, expected ${b.length}")
      merge(b, o)
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CmsMergeAgg =
    copy(child = newChild)
  override def prettyName: String = "cms_merge_agg"
}

/** cms_query(sketch_bytes, key[, depth, width]): min-over-rows point
  * frequency estimate (always >= the true count).
  */
case class CmsQuery(left: Expression, right: Expression,
    depth: Int = CountMin.DefaultDepth, width: Int = CountMin.DefaultWidth)
    extends Expression with BinaryLike[Expression] with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val img = left.eval(input)
    val key = right.eval(input)
    if (img == null || key == null) null
    else {
      val k = key match {
        case l: Long => l
        case i: Int => i.toLong
        case other => throw new IllegalArgumentException(
          s"cms_query: unsupported key ${other.getClass}")
      }
      CountMin.query(img.asInstanceOf[Array[Byte]], k, depth, width)
    }
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CmsQuery = copy(left = newLeft, right = newRight)
  override def prettyName: String = "cms_query"
}

object CmsFunctions {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.functions.call_function

  /** Parse the advertised optional [depth, width] literals (the
    * KllFunctions.literalK convention): 1 argument → the 4x512 default,
    * 3 arguments → (key, depth, width) with both dims literal ints.
    * Anything else fails loudly instead of silently sketching at the
    * default geometry.
    */
  private[functions] def literalDims(exprs: Seq[Expression],
      fn: String): (Int, Int) = exprs.length match {
    case 1 => (CountMin.DefaultDepth, CountMin.DefaultWidth)
    case 3 => (exprs(1), exprs(2)) match {
      case (Literal(d: Int, _), Literal(w: Int, _)) => (d, w)
      case other => throw new IllegalArgumentException(
        s"$fn: depth and width must be literal ints, got $other")
    }
    case n => throw new IllegalArgumentException(
      s"$fn takes (value) or (value, depth, width), got $n arguments")
  }

  /** Idempotent per-session registration (same seam as KllFunctions). */
  def register(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    fr.createOrReplaceTempFunction("cms_agg",
      exprs => {
        val (d, w) = literalDims(exprs, "cms_agg")
        CmsAgg(exprs.head, d, w)
      }, "built-in")
    fr.createOrReplaceTempFunction("cms_merge_agg",
      exprs => {
        val (d, w) = literalDims(exprs, "cms_merge_agg")
        CmsMergeAgg(exprs.head, d, w)
      }, "built-in")
    fr.createOrReplaceTempFunction("cms_query",
      exprs => CmsQuery(exprs(0), exprs(1)), "built-in")
  }

  def cmsAgg(spark: SparkSession, v: Column): Column = {
    register(spark); call_function("cms_agg", v)
  }
  def cmsMergeAgg(spark: SparkSession, sk: Column): Column = {
    register(spark); call_function("cms_merge_agg", sk)
  }
  def cmsQuery(spark: SparkSession, sk: Column, key: Column): Column = {
    register(spark); call_function("cms_query", sk, key)
  }
}
