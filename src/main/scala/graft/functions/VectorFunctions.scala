package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, col}
import org.apache.spark.sql.types._

/** Double-precision dot product over two array<float> columns, accumulated
  * in index order — a whole-stage-codegen Catalyst Expression.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0D, (acc,v) -> acc+v)`
  * (and to the DuckDB oracle's sequential `list_reduce`), but the
  * higher-order-function form evaluates its lambdas interpreted, which is
  * ~10-30x slower on the all-pairs similarity joins. The generated loop
  * compiles into the surrounding whole-stage-codegen stage.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Callers pass array<float> columns; AbstractDataType (and therefore
  // ExpectsInputTypes) is private[sql] in Spark 4, so no declared coercion.
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "float_dot"
}

/** All hyperplane-LSH sign bits of an embedding in ONE pass, packed into
  * per-table bucket codes — array<int> of `planes.length / planesPerTable`
  * codes, code bit j (MSB-first) = (dot(embedding, plane) > 0).
  *
  * Replaces the 64 separate FloatDotProduct evaluations the LSH queries
  * used per row (each re-traversing the ArrayData): the vector is copied
  * to a float[] once and the plane matrix lives in one flat float[]
  * reference object, so the generated loop is a dense (nPlanes x dim)
  * mat-vec inside whole-stage codegen.
  */
case class MultiPlaneCode(child: Expression, planes: Seq[Seq[Float]],
    planesPerTable: Int) extends UnaryExpression {

  private lazy val nPlanes = planes.length
  private lazy val dim = planes.head.length
  private lazy val nTables = nPlanes / planesPerTable
  private lazy val flat: Array[Float] = planes.flatten.toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toFloatArray()
    val n = math.min(v.length, dim)
    val codes = new Array[Int](nTables)
    var p = 0
    var t = 0
    while (t < nTables) {
      var code = 0
      var j = 0
      while (j < planesPerTable) {
        val base = p * dim
        var acc = 0.0
        var i = 0
        while (i < n) { acc += v(i).toDouble * flat(base + i); i += 1 }
        code = (code << 1) | (if (acc > 0) 1 else 0)
        p += 1; j += 1
      }
      codes(t) = code
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val planesRef = ctx.addReferenceObj("planes", flat, "float[]")
      val v = ctx.freshName("v")
      val n = ctx.freshName("n")
      val codes = ctx.freshName("codes")
      val p = ctx.freshName("p")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      val code = ctx.freshName("code")
      s"""
         |float[] $v = $a.toFloatArray();
         |int $n = java.lang.Math.min($v.length, $dim);
         |int[] $codes = new int[$nTables];
         |int $p = 0;
         |for (int $t = 0; $t < $nTables; $t++) {
         |  int $code = 0;
         |  for (int $j = 0; $j < $planesPerTable; $j++) {
         |    int $base = $p * $dim;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += ((double) $v[$i]) * $planesRef[$base + $i];
         |    }
         |    $code = ($code << 1) | ($acc > 0 ? 1 : 0);
         |    $p++;
         |  }
         |  $codes[$t] = $code;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MultiPlaneCode =
    copy(child = newChild)

  override def prettyName: String = "multi_plane_code"
}

/** Product-quantization codes of an embedding in ONE pass: the vector is
  * split into `nSub` contiguous subvectors and each is assigned the id of
  * its nearest codebook centroid by squared-L2 (double accumulation in
  * index order, ties -> smaller centroid id, mirroring the oracle's
  * ORDER BY dist ASC, cid ASC). Returns array<int> of nSub codes.
  *
  * The codebook lives in one flat float[] reference object
  * ([subspace][centroid][dim] layout), so the generated loop is a dense
  * distance scan inside whole-stage codegen — the same single-pass design
  * as [[MultiPlaneCode]]. At 100 TB this is the compression step that
  * lets candidate generation ship 4-bit codes instead of 256-byte
  * vectors.
  */
case class PqCodes(child: Expression, codebook: Seq[Seq[Seq[Float]]])
    extends UnaryExpression {

  private lazy val nSub = codebook.length
  private lazy val nCent = codebook.head.length
  private lazy val subDim = codebook.head.head.length
  private lazy val flat: Array[Float] =
    codebook.flatten.flatten.toArray // [s][c][d]

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toFloatArray()
    val codes = new Array[Int](nSub)
    var s = 0
    while (s < nSub) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < nCent) {
        val base = (s * nCent + c) * subDim
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val d = v(s * subDim + i).toDouble - flat(base + i)
          acc += d * d
          i += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cbRef = ctx.addReferenceObj("codebook", flat, "float[]")
      val v = ctx.freshName("v")
      val codes = ctx.freshName("codes")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val base = ctx.freshName("base")
      s"""
         |float[] $v = $a.toFloatArray();
         |int[] $codes = new int[$nSub];
         |for (int $s = 0; $s < $nSub; $s++) {
         |  int $best = 0;
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $c = 0; $c < $nCent; $c++) {
         |    int $base = ($s * $nCent + $c) * $subDim;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      double $d = ((double) $v[$s * $subDim + $i]) - $cbRef[$base + $i];
         |      $acc += $d * $d;
         |    }
         |    if ($acc < $bestD) { $bestD = $acc; $best = $c; }
         |  }
         |  $codes[$s] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)

  override def prettyName: String = "pq_codes"
}

/** Top-n nearest centroids of an embedding in ONE pass: every centroid
  * dot product (double accumulation in index order — bitwise-identical to
  * [[FloatDotProduct]] and the oracles' sequential list_reduce) plus the
  * top-n selection by (score DESC, cell id DESC), fused into a single
  * whole-stage-codegen loop. Returns array<int> of cell ids, best first.
  *
  * Replaces the k-column fold the IVF/k-means family used per row
  * (k FloatDotProduct columns against literal arrays, an array_sort over
  * k structs, then an INTERPRETED `transform` HOF to project the ids) —
  * at nlist=16 that was 16 re-traversals plus per-row object churn; this
  * is one dense (k x dim) mat-vec against a flat float[] reference
  * object. Tie order (larger cell id wins) mirrors every oracle's
  * ORDER BY score DESC, cell DESC.
  */
case class NearestCells(child: Expression, cids: Seq[Int],
    cents: Seq[Seq[Float]], n: Int) extends UnaryExpression {

  private lazy val k = cents.length
  private lazy val dim = cents.head.length
  private lazy val flat: Array[Float] = cents.flatten.toArray
  private lazy val cidArr: Array[Int] = cids.toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toFloatArray()
    val m = math.min(v.length, dim)
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      val base = c * dim
      var acc = 0.0
      var i = 0
      while (i < m) { acc += v(i).toDouble * flat(base + i); i += 1 }
      scores(c) = acc
      c += 1
    }
    val take = math.min(n, k)
    val out = new Array[Int](take)
    val used = new Array[Boolean](k)
    var r = 0
    while (r < take) {
      var best = -1
      var j = 0
      while (j < k) {
        if (!used(j) && (best < 0 || scores(j) > scores(best) ||
            (scores(j) == scores(best) && cidArr(j) > cidArr(best)))) best = j
        j += 1
      }
      used(best) = true
      out(r) = cidArr(best)
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val centsRef = ctx.addReferenceObj("cents", flat, "float[]")
      val cidsRef = ctx.addReferenceObj("cids", cidArr, "int[]")
      val v = ctx.freshName("v")
      val m = ctx.freshName("m")
      val scores = ctx.freshName("scores")
      val used = ctx.freshName("used")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      val best = ctx.freshName("best")
      val take = ctx.freshName("take")
      s"""
         |float[] $v = $a.toFloatArray();
         |int $m = java.lang.Math.min($v.length, $dim);
         |double[] $scores = new double[$k];
         |for (int $c = 0; $c < $k; $c++) {
         |  int $base = $c * $dim;
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $acc += ((double) $v[$i]) * $centsRef[$base + $i];
         |  }
         |  $scores[$c] = $acc;
         |}
         |int $take = java.lang.Math.min($n, $k);
         |int[] $out = new int[$take];
         |boolean[] $used = new boolean[$k];
         |for (int $r = 0; $r < $take; $r++) {
         |  int $best = -1;
         |  for (int $j = 0; $j < $k; $j++) {
         |    if (!$used[$j] && ($best < 0 || $scores[$j] > $scores[$best] ||
         |        ($scores[$j] == $scores[$best] && $cidsRef[$j] > $cidsRef[$best]))) {
         |      $best = $j;
         |    }
         |  }
         |  $used[$best] = true;
         |  $out[$r] = $cidsRef[$best];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)

  override def prettyName: String = "nearest_cells"
}

/** SparkSessionExtensions entry point: makes the engine's custom
  * expressions first-class SQL functions in any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` — the injection
  * path a cluster deployment would configure once.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
      (exprs: Seq[Expression]) => FloatDotProduct(exprs(0), exprs(1))))
    // word_shingle_hashes(text[, n]) — n must be a literal int
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashes].getName, "word_shingle_hashes"),
      (exprs: Seq[Expression]) => {
        val n = if (exprs.length > 1) exprs(1) match {
          case Literal(i: Int, _) if i >= 1 => i
          case other => throw new IllegalArgumentException(
            s"word_shingle_hashes: n must be a literal int >= 1, got $other")
        } else 3
        WordShingleHashes(exprs(0), n)
      }))
    // simhash64(text) — whole 64-bit SimHash fingerprint per row
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"simhash64 takes 1 argument, got ${exprs.length}")
        SimHash64(exprs.head)
      }))
    // md5_simhash60(text) — the DuckDB-replayable 60-bit SimHash regime
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("md5_simhash60"),
      new ExpressionInfo(classOf[Md5SimHash60].getName, "md5_simhash60"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"md5_simhash60 takes 1 argument, got ${exprs.length}")
        Md5SimHash60(exprs.head)
      }))
    // minhash_signature(array<long>, k) — k must be a literal int
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"minhash_signature takes 2 arguments (hashes, k), got ${exprs.length}")
        val k = exprs(1) match {
          case Literal(i: Int, _) if i >= 1 => i
          case other => throw new IllegalArgumentException(
            s"minhash_signature: k must be a literal int >= 1, got $other")
        }
        MinHashSignature(exprs.head, k)
      }))
    // karp_rabin_fingerprint(text) — rolling polynomial fingerprint mod 1e9+7
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("karp_rabin_fingerprint"),
      new ExpressionInfo(classOf[KarpRabinFingerprint].getName, "karp_rabin_fingerprint"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"karp_rabin_fingerprint takes 1 argument, got ${exprs.length}")
        KarpRabinFingerprint(exprs.head)
      }))
    // linear_text_score(text) — hashed-feature linear classifier integer score
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("linear_text_score"),
      new ExpressionInfo(classOf[LinearTextScore].getName, "linear_text_score"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"linear_text_score takes 1 argument, got ${exprs.length}")
        LinearTextScore(exprs.head)
      }))
    // bpe_tokens(text[, codec]) — BPE subword tokens; codec is a literal
    // string id ('fixture' default, 'gen4096' = the generated 4k-merge
    // vocabulary), resolved on executors via BpeCodecs
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("bpe_tokens"),
      new ExpressionInfo(classOf[BpeEncodeTokens].getName, "bpe_tokens"),
      (exprs: Seq[Expression]) => {
        require(exprs.nonEmpty && exprs.length <= 2,
          s"bpe_tokens takes 1 or 2 arguments, got ${exprs.length}")
        val codec = if (exprs.length == 2) exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(sv: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            sv.toString
          case other => throw new IllegalArgumentException(
            s"bpe_tokens: codec must be a literal string, got $other")
        } else "fixture"
        BpeCodecs.byId(codec) // fail at analysis, not on executors
        BpeEncodeTokens(exprs.head, codec)
      }))
    // word_stats(text, 'stop,words') — one-pass token statistics struct;
    // the stopword list is a literal comma-separated string
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("word_stats"),
      new ExpressionInfo(classOf[WordStats].getName, "word_stats"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"word_stats takes 2 arguments (text, stopwordsCsv), got ${exprs.length}")
        val stops = exprs(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            s.toString.split(',').toSeq.filter(_.nonEmpty)
          case other => throw new IllegalArgumentException(
            s"word_stats: stopwords must be a literal string, got $other")
        }
        WordStats(exprs.head, stops)
      }))
    // marker_hits(text, 'the,a'[, 'le,les', ...]) — one profile per
    // literal comma-separated string; returns array<long> of hit counts
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("marker_hits"),
      new ExpressionInfo(classOf[MarkerHits].getName, "marker_hits"),
      (exprs: Seq[Expression]) => {
        require(exprs.length >= 2,
          s"marker_hits takes (text, profileCsv...), got ${exprs.length} args")
        val profiles = exprs.tail.map {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            s.toString.split(',').toSeq.filter(_.nonEmpty)
          case other => throw new IllegalArgumentException(
            s"marker_hits: profiles must be literal strings, got $other")
        }
        MarkerHits(exprs.head, profiles)
      }))
    // shingle_rows(text[, n]) — custom Generator (UDTF): LATERAL VIEW-able;
    // same builder as the temp-function fallback so the two paths can't drift
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("shingle_rows"),
      new ExpressionInfo(classOf[ShingleRows].getName, "shingle_rows"),
      ShingleRows.fromSql))
    // kll_agg(value[, k]) / kll_merge_agg(sketch[, k]) / kll_quantile(sk, r)
    // — mergeable KLL quantile sketches (the analyzer wraps the returned
    // AggregateFunction in an AggregateExpression itself)
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("kll_agg"),
      new ExpressionInfo(classOf[KllAgg].getName, "kll_agg"),
      (exprs: Seq[Expression]) =>
        KllAgg(exprs.head, KllFunctions.literalK(exprs, 1))))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("kll_merge_agg"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge_agg"),
      (exprs: Seq[Expression]) =>
        KllMergeAgg(exprs.head, KllFunctions.literalK(exprs, 1))))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[KllQuantile].getName, "kll_quantile"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"kll_quantile takes 2 arguments (sketch, rank), got ${exprs.length}")
        KllQuantile(exprs(0), exprs(1))
      }))
    // theta_agg / theta_union_agg / theta_intersect_agg / theta_estimate —
    // mergeable distinct-set algebra (union AND intersection over stored
    // sketch images; the audience-overlap complement of the HLL pair)
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("theta_agg"),
      new ExpressionInfo(classOf[ThetaAgg].getName, "theta_agg"),
      (exprs: Seq[Expression]) => ThetaAgg(exprs.head)))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("theta_union_agg"),
      new ExpressionInfo(classOf[ThetaUnionAgg].getName, "theta_union_agg"),
      (exprs: Seq[Expression]) => ThetaUnionAgg(exprs.head)))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("theta_intersect_agg"),
      new ExpressionInfo(classOf[ThetaIntersectAgg].getName, "theta_intersect_agg"),
      (exprs: Seq[Expression]) => ThetaIntersectAgg(exprs.head)))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("theta_estimate"),
      new ExpressionInfo(classOf[ThetaEstimate].getName, "theta_estimate"),
      (exprs: Seq[Expression]) => ThetaEstimate(exprs.head)))
    // cms_agg / cms_merge_agg / cms_query — mergeable Count-Min frequency
    // sketches (arithmetic hash family, so estimates are value-oracled)
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("cms_agg"),
      new ExpressionInfo(classOf[CmsAgg].getName, "cms_agg"),
      (exprs: Seq[Expression]) => {
        val (d, w) = CmsFunctions.literalDims(exprs, "cms_agg")
        CmsAgg(exprs.head, d, w)
      }))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("cms_merge_agg"),
      new ExpressionInfo(classOf[CmsMergeAgg].getName, "cms_merge_agg"),
      (exprs: Seq[Expression]) => {
        val (d, w) = CmsFunctions.literalDims(exprs, "cms_merge_agg")
        CmsMergeAgg(exprs.head, d, w)
      }))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("cms_query"),
      new ExpressionInfo(classOf[CmsQuery].getName, "cms_query"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"cms_query takes 2 arguments (sketch, key), got ${exprs.length}")
        CmsQuery(exprs(0), exprs(1))
      }))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOf)
  }
}

object VectorFunctions {

  /** Idempotent per-session registration; expressions become callable via
    * call_function / SQL.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "float_dot", exprs => FloatDotProduct(exprs(0), exprs(1)), "built-in")
  }

  /** Double dot product of two array<float> columns. */
  def floatDot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("float_dot", a, b)
  }

  /** Cosine of a scored pair's (a_emb, a_norm) and (b_emb, b_norm): the
    * float dot over the two precomputed norms, the one cosine every
    * vector query and store scores with.
    */
  def cosine(spark: SparkSession): Column =
    floatDot(spark, col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm"))

  /** All LSH bucket codes of an embedding column in one fused pass. */
  def multiPlaneCode(emb: Column, planes: Seq[Seq[Float]], planesPerTable: Int): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      MultiPlaneCode(org.apache.spark.sql.graft.GraftSqlShims.expression(emb),
        planes, planesPerTable))

  /** All product-quantization subspace codes in one fused pass. */
  def pqCodes(emb: Column, codebook: Seq[Seq[Seq[Float]]]): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      PqCodes(org.apache.spark.sql.graft.GraftSqlShims.expression(emb), codebook))

  /** Top-n nearest centroid cell ids in one fused pass. */
  def nearestCells(emb: Column, cents: Seq[(Int, Seq[Float])], n: Int): Column =
    org.apache.spark.sql.graft.GraftSqlShims.column(
      NearestCells(org.apache.spark.sql.graft.GraftSqlShims.expression(emb),
        cents.map(_._1), cents.map(_._2), n))
}
