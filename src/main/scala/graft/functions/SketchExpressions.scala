package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.{GraftColumnBridge => CB}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for document sketches (MinHash, SimHash).
  *
  * Why custom expressions instead of composed higher-order functions:
  * expressions referenced inside `transform`/`aggregate` lambdas are
  * re-evaluated per array element, and CollapseProject can inline a
  * materialized column back into a consuming lambda — observed to turn a
  * k=64 MinHash over ~300 shingles into ~64 full re-shinglings per row
  * (minutes per 500 rows). A single imperative pass is the honest cost
  * model: hash each shingle once, derive the k permutation minima with
  * cheap universal hashing (a_j*h+b_j — Broder '97 / standard MinHash
  * practice). O(S + S*k) word ops per row, no string re-processing.
  *
  * Both expressions are deterministic pure functions of their input (safe
  * for any optimizer rewrite, identical on any cluster layout) and
  * CodegenFallback (one virtual call per row — negligible next to the
  * per-row O(S*k) work; doGenCode would buy nothing here).
  */
object SketchExpressions {

  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val MaxK = 256
  /** Deterministic universal-hash coefficients (odd multipliers). */
  private[functions] val CoefA: Array[Long] =
    Array.tabulate(MaxK)(i => splitmix64(2L * i) | 1L)
  private[functions] val CoefB: Array[Long] =
    Array.tabulate(MaxK)(i => splitmix64(2L * i + 1))

  /** xxhash64 of a UTF8String element (seed 42, matching Spark's
    * xxhash64 SQL function family). */
  private[functions] def hashStr(
      s: org.apache.spark.unsafe.types.UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  def minhash(shingles: Column, k: Int = 64): Column =
    CB.column(MinHashSignature(CB.expression(shingles), k))

  def minhashBands(shingles: Column, k: Int = 64, bands: Int = 16): Column =
    CB.column(MinHashBandBuckets(CB.expression(shingles), k, bands))

  def simhash(tokens: Column): Column = CB.column(SimHash64(CB.expression(tokens)))

  def wordShingles(tokens: Column, n: Int = 3): Column =
    CB.column(WordShingles(CB.expression(tokens), n))

  def charNgramSet(normText: Column, n: Int = 5): Column =
    CB.column(CharNgramSet(CB.expression(normText), n))

  def tokenFingerprint(tokens: Column): Column =
    CB.column(TokenFingerprint(CB.expression(tokens)))

  def hyperplaneBands(vec: Column, planes: Int, bands: Int,
      planeOffset: Int = 0): Column =
    CB.column(HyperplaneBands(CB.expression(vec), planes, bands, planeOffset))

  def cosineSim(a: Column, b: Column): Column =
    CB.column(CosineSim(CB.expression(a), CB.expression(b)))

  def signProject(vec: Column, signs: Array[Byte], outDim: Int,
      scale: Double): Column =
    CB.column(SignProject(CB.expression(vec), signs, outDim, scale))

  def wordGramMd5s(tokens: Column, n: Int): Column =
    CB.column(WordGramMd5s(CB.expression(tokens), n))

  def keptTokens(tokens: Column, starts: Column, n: Int): Column =
    CB.column(KeptTokens(CB.expression(tokens), CB.expression(starts), n))

  def spanRuns(starts: Column, n: Int): Column =
    CB.column(SpanRuns(CB.expression(starts), n))

  /** Coverage mask of the union of the spans `[p, p+n)` over `starts`,
    * on positions `[0, len)` — the shared kernel of [[KeptTokens]] and
    * [[SpanRuns]]. One pass marks each start, one sweep carries the
    * furthest span end forward: O(len + starts), no sort. Starts outside
    * `[0, len)` and a null `starts` cover nothing. */
  def spanCover(starts: ArrayData, n: Int, len: Int): Array[Boolean] = {
    val cover = new Array[Boolean](len)
    if (starts != null) {
      var i = 0
      while (i < starts.numElements()) {
        val p = starts.getInt(i)
        if (p >= 0 && p < len) cover(p) = true
        i += 1
      }
    }
    var end = 0
    var pos = 0
    while (pos < len) {
      if (cover(pos)) end = pos + n
      cover(pos) = pos < end
      pos += 1
    }
    cover
  }

  def repetitionStats(tokens: Column): Column =
    CB.column(RepetitionStats(CB.expression(tokens)))

  def tokenEntropy(tokens: Column): Column =
    CB.column(TokenEntropy(CB.expression(tokens)))

  def chainedReplace(str: Column, pairs: Seq[(String, String)]): Column =
    CB.column(ChainedReplace(CB.expression(str),
      pairs.map(_._1).toArray, pairs.map(_._2).toArray))

  def nfcNormalize(str: Column): Column =
    CB.column(NfcNormalize(CB.expression(str)))

  /** NFC normalization of one UTF8String — the shared interpreted/codegen
    * kernel of [[NfcNormalize]]. Two allocation-free fast paths cover the
    * overwhelming majority of a web-scale corpus: pure-ASCII rows
    * (numBytes == numChars ⇔ every sequence is one byte) are NFC by
    * construction and return the INPUT object, and already-normalized
    * non-ASCII rows ride `Normalizer.isNormalized`'s quick-check pass
    * (no output string is built). Only genuinely denormalized rows pay
    * the compose pass + re-encode. */
  def nfc(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (s.numBytes == s.numChars) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** An ordered replace TABLE applied to a string in ONE expression:
  * fold of `UTF8String.replace` over (search_i → replacement_i) in
  * table order. Bit-identical to chaining that many `replace`
  * (StringReplace) projections — StringReplace's eval IS
  * `UTF8String.replace`, greedy left-to-right non-overlapping — but
  * with CONSTANT expression depth: the table rides as two reference
  * arrays and the generated code is one fixed-size loop whatever the
  * table length. The chained form's expression tree grows linearly
  * with the merge count, which is fine for a 20-merge toy tokenizer
  * and fatal for a production 32k-merge BPE vocabulary (codegen
  * collapses the chain into one method that blows past janino's limits
  * before falling back to a 32k-deep interpreted tree). This is the
  * encode-side "model in the expression tree" shape at real vocabulary
  * scale. */
case class ChainedReplace(child: Expression,
    searches: Array[String], replacements: Array[String])
    extends UnaryExpression {
  require(searches.length == replacements.length &&
    searches.forall(_.nonEmpty))

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "chained_replace"

  @transient private lazy val s8 =
    searches.map(org.apache.spark.unsafe.types.UTF8String.fromString)
  @transient private lazy val r8 =
    replacements.map(org.apache.spark.unsafe.types.UTF8String.fromString)

  override protected def nullSafeEval(input: Any): Any = {
    var cur = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    var i = 0
    while (i < s8.length) { cur = cur.replace(s8(i), r8(i)); i += 1 }
    cur
  }

  /** Same loop as [[nullSafeEval]] — generated and interpreted paths
    * are the same `UTF8String.replace` fold, so they stay
    * bit-identical at any table length. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val u8 = "org.apache.spark.unsafe.types.UTF8String"
      val sr = ctx.addReferenceObj("searches", s8, s"$u8[]")
      val rr = ctx.addReferenceObj("replacements", r8, s"$u8[]")
      val cur = ctx.freshName("cur")
      val i = ctx.freshName("i")
      s"""
         |$u8 $cur = $in;
         |for (int $i = 0; $i < ${s8.length}; $i++) {
         |  $cur = $cur.replace($sr[$i], $rr[$i]);
         |}
         |${ev.value} = $cur;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): ChainedReplace =
    copy(child = c)
}

/** Cosine similarity of two array<float|double> vectors, fused single
  * pass. Bit-compatible with the composed HOF form
  * (`aggregate(zip_with(a,b,*)) / (sqrt(...)*sqrt(...))`) — the three
  * sums fold left-to-right in double precision in index order, then the
  * same divide — so oracle hashes are unchanged; only the interpreter
  * round-trips per element (3 lambda evals each) are gone.
  *
  * Null semantics mirror the HOF form it replaces: mismatched vector
  * lengths (zip_with would pad with null) and null elements both
  * propagate NULL rather than silently truncating to the common prefix —
  * a plausible-but-wrong similarity is worse than no similarity. */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // ragged/null-element inputs -> null
  override def prettyName: String = "cosine_sim"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"cosine_sim needs array<float|double>, got $other")
  }
  private lazy val leftFloat = isFloat(left)
  private lazy val rightFloat = isFloat(right)

  /** Generated form of [[nullSafeEval]] — same loop, same IEEE
    * accumulation order, so codegen and interpreted paths (and the
    * driver-side replicas in Similarity) stay bit-identical. Native
    * codegen matters here more than for most expressions: the kmeans /
    * IVF / SemDeDup argmax inlines k cosines per ROW, and the
    * interpreted fallback boxed every element access and result
    * (k × dim boxed reads per row; scoped bench moved kmeans_iterate
    * ~2.3 → ~2.0 s at sf0.1 — the remaining floor is the exploded
    * decimal re-mean aggregate, not the cosine). */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val xy = ctx.freshName("xy")
      val xx = ctx.freshName("xx")
      val yy = ctx.freshName("yy")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val bad = ctx.freshName("bad")
      val getX = if (leftFloat) s"$a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (rightFloat) s"$b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $xy = 0.0, $xx = 0.0, $yy = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    final double $xi = (double) $getX;
         |    final double $yi = (double) $getY;
         |    $xy += $xi * $yi;
         |    $xx += $xi * $xi;
         |    $yy += $yi * $yi;
         |  }
         |  if ($bad) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} =
         |      $xy / (java.lang.Math.sqrt($xx) * java.lang.Math.sqrt($yy));
         |  }
         |}
       """.stripMargin
    })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var xy = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      xy += xi * yi
      xx += xi * xi
      yy += yi * yi
      i += 1
    }
    java.lang.Double.valueOf(xy / (math.sqrt(xx) * math.sqrt(yy)))
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CosineSim = copy(left = l, right = r)
}

/** Random ±1 sign projection of an array<float|double> vector:
  * out[j] = (Σ_i sign(j,i)·v_i) · scale, accumulated left-to-right in
  * index order per output dim. Bit-identical to the unrolled
  * (±e₁ ±e₂ … ±e_d)·scale Column tree it replaces (same IEEE add order,
  * same negate-then-add), but ONE short loop in both the interpreted
  * and generated paths instead of a k×d-node tree — the unrolled form
  * cost seconds of janino compilation per plan that contained it.
  *
  * `signs` is the flattened k×d matrix (row-major, +1/−1 bytes),
  * inlined as a reference object in generated code — never shipped as
  * per-row data. Ragged input (numElements ≠ d) and null elements
  * yield NULL, the CosineSim discipline: a silently truncated
  * projection is worse than none. */
case class SignProject(child: Expression, signs: Array[Byte],
    outDim: Int, scale: Double) extends UnaryExpression {
  require(outDim > 0 && signs.length % outDim == 0)
  private val inDim = signs.length / outDim

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "sign_project"

  private lazy val readsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"sign_project needs array<float|double>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != inDim) return null
    var i = 0
    while (i < inDim) {
      if (arr.isNullAt(i)) return null
      i += 1
    }
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      i = 0
      while (i < inDim) {
        val v = if (readsFloat) arr.getFloat(i).toDouble
          else arr.getDouble(i)
        acc += (if (signs(j * inDim + i) > 0) v else -v)
        i += 1
      }
      out(j) = acc * scale
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Same loop, same accumulation order as [[nullSafeEval]] — codegen
    * and interpreted paths stay bit-identical. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sref = ctx.addReferenceObj("signs", signs, "byte[]")
      val out = ctx.freshName("out")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val bad = ctx.freshName("bad")
      val getV = if (readsFloat) s"$a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |if ($a.numElements() != $inDim) {
         |  ${ev.isNull} = true;
         |} else {
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $inDim; $i++) {
         |    if ($a.isNullAt($i)) { $bad = true; break; }
         |  }
         |  if ($bad) {
         |    ${ev.isNull} = true;
         |  } else {
         |    final double[] $out = new double[$outDim];
         |    for (int $j = 0; $j < $outDim; $j++) {
         |      double $acc = 0.0;
         |      for (int $i = 0; $i < $inDim; $i++) {
         |        final double $v = (double) $getV;
         |        $acc += ($sref[$j * $inDim + $i] > 0) ? $v : -$v;
         |      }
         |      $out[$j] = $acc * $scale;
         |    }
         |    ${ev.value} =
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SignProject =
    copy(child = c)
}

/** Banded random-hyperplane LSH signatures (Charikar '02 SimHash for
  * angles) of an array<float|double> vector: `bands` independent
  * `planes`-bit signatures, bit p of band b set iff the dot product with
  * pseudo-random plane (planeOffset + b*planes + p) is positive. Plane
  * weights are splitmix64(plane, dim) mapped to [-1, 1] — no RNG state,
  * identical on every executor.
  *
  * Why an expression and not composed HOFs: the HOF rendering costs one
  * Catalyst xxhash64 tree-eval per (band, plane, dim) element —
  * bands*planes*dim interpreter round-trips per ROW. This is one fused
  * loop: O(bands*planes*dim) multiply-adds with an inlined 6-op mixer. */
case class HyperplaneBands(child: Expression, planes: Int, bands: Int,
    planeOffset: Int) extends UnaryExpression with CodegenFallback {
  require(planes > 0 && planes <= 64 && bands > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  private lazy val readsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"hyperplane_bands needs array<float|double>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val v = new Array[Double](dim)
    var d = 0
    while (d < dim) {
      v(d) = if (readsFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      d += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var p = 0
      while (p < planes) {
        val plane = (planeOffset + b * planes + p).toLong
        var proj = 0.0
        d = 0
        while (d < dim) {
          // weight(plane, d): splitmix64 of the (plane, dim) pair -> [-1, 1]
          val w = SketchExpressions.splitmix64(plane * 0x100000001B3L + d)
          proj += v(d) * (w.toDouble / 9.223372036854776e18)
          d += 1
        }
        if (proj > 0) sig |= (1L << p)
        p += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneBands =
    copy(child = c)
}

/** Order-sensitive polynomial rolling hash over an array<string> token
  * sequence: h = h * 1000003 + xxhash64(token), wrapping (Java long
  * semantics; expression arithmetic would throw under ANSI mode). Equal
  * fingerprints => identical token sequences with overwhelming
  * probability — the cheap first-pass dedup key. */
case class TokenFingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "token_fingerprint"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var h = 0L
    var i = 0
    while (i < n) {
      h = h * 1000003L + SketchExpressions.hashStr(arr.getUTF8String(i))
      i += 1
    }
    java.lang.Long.valueOf(h)
  }

  override protected def withNewChildInternal(c: Expression): TokenFingerprint =
    copy(child = c)
}

/** md5 hex digest of EVERY positioned word n-gram of an array<string>
  * token sequence, in position order (index i = the gram starting at
  * token i) — the single-pass feed of the span-dedup family
  * ([[graft.operators.Dedup.dupSpans]] / spanScrub /
  * winnowFingerprints; the first two reduce a document's repeated-gram
  * positions through [[SpanRuns]] / [[KeptTokens]]), where gram
  * IDENTITY must ride a fixed-width digest but positions must survive
  * (unlike [[WordShingles]]' distinct set). Bit-compatible with the
  * composed form it replaces (`transform(sequence(0, size-n), i ->
  * md5(concat_ws(' ', slice(w, i+1, n))))`): same UTF8 bytes into the
  * same md5, same hex rendering — only the per-gram interpreted-lambda
  * round trips and the intermediate slice allocations are gone. Inputs
  * shorter than `n` yield an empty array (the composed form's
  * descending-sequence hazard simply cannot arise). */
case class WordGramMd5s(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_gram_md5s"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val cnt = arr.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new Array[Any](cnt - n + 1)
    var i = 0
    while (i + n <= cnt) {
      val parts = Array.tabulate(n)(j => arr.getUTF8String(i + j))
      val joined =
        org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(joined.getBytes))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): WordGramMd5s =
    copy(child = c)
}

/** The tokens of an array<string> sequence that lie outside every span
  * `[p, p+n)` of an array<int> of span starts, in original order — the
  * per-document rebuild of [[graft.operators.Dedup.spanScrub]]: one
  * linear sweep over [[SketchExpressions.spanCover]]'s mask. A null
  * `starts` (a document no removal reached, via the left join) keeps
  * every token. */
case class KeptTokens(left: Expression, right: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "kept_tokens"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = left.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return null
    val cnt = arr.numElements()
    val cover = SketchExpressions.spanCover(
      right.eval(input).asInstanceOf[ArrayData], n, cnt)
    val out = new java.util.ArrayList[Any](cnt)
    var i = 0
    while (i < cnt) {
      if (!cover(i)) out.add(arr.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): KeptTokens = copy(left = l, right = r)
}

/** Maximal runs of the union of the spans `[p, p+n)` over an array<int>
  * of span starts: `n_spans` counts the runs (overlapping and adjacent
  * spans merge) and `dup_tokens` is the union's size — the per-document
  * summary of [[graft.operators.Dedup.dupSpans]], on the same
  * [[SketchExpressions.spanCover]] mask. A null `starts` is (0, 0). */
case class SpanRuns(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0)

  override def dataType: DataType = StructType(Seq(
    StructField("n_spans", LongType, nullable = false),
    StructField("dup_tokens", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "span_runs"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val starts = child.eval(input).asInstanceOf[ArrayData]
    var len = 0
    if (starts != null) {
      var i = 0
      while (i < starts.numElements()) {
        len = math.max(len, starts.getInt(i) + n)
        i += 1
      }
    }
    val cover = SketchExpressions.spanCover(starts, n, len)
    var runs = 0L
    var covered = 0L
    var pos = 0
    while (pos < len) {
      if (cover(pos)) {
        covered += 1
        if (pos == 0 || !cover(pos - 1)) runs += 1
      }
      pos += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(runs, covered)
  }

  override protected def withNewChildInternal(c: Expression): SpanRuns =
    copy(child = c)
}

/** Distinct word n-gram shingles of an array<string> token sequence,
  * single pass (first-occurrence order). */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val cnt = arr.numElements()
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    if (cnt == 0) {
      out.add(org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8)
    } else if (cnt <= n) {
      val parts = Array.tabulate(cnt)(i => arr.getUTF8String(i))
      out.add(org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*))
    } else {
      var i = 0
      while (i + n <= cnt) {
        val parts = Array.tabulate(n)(j => arr.getUTF8String(i + j))
        out.add(org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*))
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

/** LSH band buckets straight from the shingle set: computes the k-wide
  * MinHash signature in one pass, then hashes each of `bands` contiguous
  * slices to one 64-bit bucket key. Output: array<long> of length `bands`
  * (index = band id). Collapse-proof single tree: evaluated once per row
  * wherever the optimizer puts it. */
case class MinHashBandBuckets(child: Expression, k: Int, bands: Int)
    extends UnaryExpression with CodegenFallback {
  require(k > 0 && k <= SketchExpressions.MaxK && bands > 0 && k % bands == 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_buckets"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = SketchExpressions.hashStr(arr.getUTF8String(i))
      var j = 0
      while (j < k) {
        val v = SketchExpressions.CoefA(j) * h + SketchExpressions.CoefB(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0x27D4EB2F165667C5L + b
      var j = b * r
      while (j < (b + 1) * r) {
        acc = XXH64.hashLong(mins(j), acc)
        j += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): MinHashBandBuckets =
    copy(child = c)
}

/** Distinct character n-grams of a (whitespace-normalized) string, single
  * pass over UTF-16 code units. */
case class CharNgramSet(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngram_set"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val out = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    if (s.length <= n) {
      out.add(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    } else {
      var i = 0
      while (i + n <= s.length) {
        out.add(org.apache.spark.unsafe.types.UTF8String.fromString(
          s.substring(i, i + n)))
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): CharNgramSet =
    copy(child = c)
}

/** k-wide MinHash signature of an array<string> shingle set: one pass,
  * one xxhash64 per shingle, k derived permutations. */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k > 0 && k <= SketchExpressions.MaxK)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = SketchExpressions.hashStr(arr.getUTF8String(i))
      var j = 0
      while (j < k) {
        val v = SketchExpressions.CoefA(j) * h + SketchExpressions.CoefB(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

/** 64-bit SimHash (Charikar '02) of an array<string> token sequence: each
  * token's xxhash64 votes +/-1 per bit position; sign vector packs into
  * one long. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = SketchExpressions.hashStr(arr.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** Single-pass repetition statistics over an array<string> token
  * sequence: distinct bigram count, distinct trigram count, and the
  * highest single-token frequency, in one traversal with hash sets —
  * O(n) per row where the HOF rendering (array_distinct over transform,
  * plus a |vocab| x n nested filter for the top count) is O(n * vocab).
  * Counts are exact integers, so any downstream ratio is identical to
  * the HOF form's — no FP-order concern. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("d2", IntegerType, nullable = false),
    StructField("d3", IntegerType, nullable = false),
    StructField("top", IntegerType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val toks = Array.tabulate(n)(i => arr.getUTF8String(i))
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val g2 = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    val g3 = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    val cnt = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Int]()
    var top = 0
    var i = 0
    while (i < n) {
      val c = cnt.merge(toks(i), 1, (a, b) => a + b)
      if (c > top) top = c
      if (i + 2 <= n) g2.add(
        org.apache.spark.unsafe.types.UTF8String.concatWs(sep, toks(i), toks(i + 1)))
      if (i + 3 <= n) g3.add(
        org.apache.spark.unsafe.types.UTF8String.concatWs(sep, toks(i), toks(i + 1), toks(i + 2)))
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(g2.size, g3.size, top)
  }

  override protected def withNewChildInternal(c: Expression): RepetitionStats =
    copy(child = c)
}

/** Shannon entropy (bits) of the token distribution, replicating the
  * composed-HOF fold EXACTLY: counts from one hash-map pass, then the
  * per-POSITION contribution log2(c/n)/n accumulated in document order —
  * the same arithmetic sequence (log(x)/log(2), then /n, then +=) the
  * `aggregate`+`filter` rendering performs, so results are bit-identical
  * to it and to the DuckDB oracle, while the row cost drops from O(n^2)
  * token comparisons to O(n). */
case class TokenEntropy(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "token_entropy"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val toks = Array.tabulate(n)(i => arr.getUTF8String(i))
    val cnt = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Int]()
    var i = 0
    while (i < n) { cnt.merge(toks(i), 1, (a, b) => a + b); i += 1 }
    val nd = n.toDouble
    var acc = 0.0
    i = 0
    while (i < n) {
      // exactly Spark's Log2 (math.log(x) / math.log(2)), then / n, then
      // sequential += — do not reorder or refactor this arithmetic
      acc += math.log(cnt.get(toks(i)).toDouble / nd) / math.log(2) / nd
      i += 1
    }
    java.lang.Double.valueOf(-acc)
  }

  override protected def withNewChildInternal(c: Expression): TokenEntropy =
    copy(child = c)
}

/** Unicode NFC (canonical composition) normalization as a native
  * codegen'd expression — the pre-tokenization pass every text corpus
  * needs before exact/fuzzy dedup or BPE: the SAME text arriving as
  * composed `é` (U+00E9) and decomposed `e`+U+0301 hashes, shingles and
  * tokenizes differently unless the corpus is canonicalized first, so
  * normalization must run BEFORE [[MinHashSignature]]/[[SimHash64]]/
  * [[ChainedReplace]] see a byte. Semantics are exactly
  * `java.text.Normalizer.normalize(_, NFC)` (Unicode UAX #15 canonical
  * decomposition + composition), matching DuckDB's `nfc_normalize` — the
  * contract oracle. Generated and interpreted paths call the SAME
  * [[SketchExpressions.nfc]] kernel, so they are bit-identical; the
  * kernel's ASCII and quick-check fast paths make the expression
  * near-free on the already-normalized bulk of a 100 TB corpus (one
  * byte-length scan per row, no allocation). */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    SketchExpressions.nfc(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      in => s"graft.functions.SketchExpressions.nfc($in)")

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}
