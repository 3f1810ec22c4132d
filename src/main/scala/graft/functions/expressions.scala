package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the operators Spark lacks
  * (SURVEY.md §2.8/§4.2). All three generate code via static calls
  * into the pure kernels ([[JsNumber]], [[Base62]], [[GeoUtil]]) so
  * they stay inside whole-stage codegen instead of falling back to
  * interpreted eval.
  */

/** JS `coordinates.join(',')` over an array<double>
  * (reference: building-inspector.js:207).
  */
case class JsCoordJoin(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(JsNumber.join(input.asInstanceOf[ArrayData].toDoubleArray()))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.JsNumber.join($c.toDoubleArray()))")
  override protected def withNewChildInternal(newChild: Expression): JsCoordJoin =
    copy(child = newChild)
}

/** JS `coordinates.join(',')` over the RAW JSON coordinates subtree —
  * recursive-flatten semantics for geometries of any nesting depth
  * (reference: building-inspector.js:207; see
  * [[JsNumber.joinNestedJson]]).
  */
case class JsCoordJoinRaw(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  // Registered as a SQL function: without a guard, a non-string child
  // (e.g. an array) reaches toString on Catalyst internal data and
  // fails at runtime with an opaque Jackson error instead of an
  // analysis-time type error.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"js_coord_join_raw requires a string (raw JSON) argument, got ${child.dataType.sql}")
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(JsNumber.joinNestedJson(input.toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.JsNumber.joinNestedJson($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): JsCoordJoinRaw =
    copy(child = newChild)
}

/** base-62.js `encodeHex` (reference: building-inspector.js:209). */
case class Base62EncodeHex(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Base62.encodeHex(input.toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Base62.encodeHex($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): Base62EncodeHex =
    copy(child = newChild)
}

/** Point-in-polygon containment predicate: `st_contains(rings, point)`
  * where rings is GeoJSON Polygon coordinates
  * (array<array<array<double>>>) and point is [x, y]
  * (reference probe: geo-indices.js:48).
  */
case class StContains(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(rings: Any, point: Any): Any =
    GeoUtil.contains(rings.asInstanceOf[ArrayData], point.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (r, p) => s"graft.functions.GeoUtil.contains($r, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StContains =
    copy(left = l, right = r)
}

/** JS `parseInt(s)` tolerant-prefix semantics (reference:
  * `parseInt(map_id)`, building-inspector.js:102,105): "12abc" → 12
  * where a SQL cast is null. Nullable by design — no leading digits
  * (JS NaN) maps to null; see [[JsNumber.parseIntJs]].
  */
case class JsParseInt(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"js_parse_int requires a string argument, got ${child.dataType.sql}")
  override protected def nullSafeEval(input: Any): Any =
    JsNumber.parseIntJs(input.toString)
  // the kernel returns a BOXED Long (null = JS NaN), so the generated
  // code must null-check the result rather than assign a primitive
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("parsed")
      s"""
         |java.lang.Long $boxed = graft.functions.JsNumber.parseIntJs($c.toString());
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.longValue();
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): JsParseInt =
    copy(child = newChild)
}

/** Karp-Rabin rolling hash of a string: h = (h*31 + c) mod (2^31 - 1)
  * over UTF-16 code units. Document fingerprinting primitive for the
  * training-data pipeline; modulus keeps every intermediate inside a
  * long so the oracle can replay it with plain integer SQL.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHash.hash($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val Mod = 2147483647L // 2^31 - 1

  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * 31 + s.charAt(i)) % Mod
      i += 1
    }
    h
  }
}

/** Decimal-exact scaled-integer cosine over two float vectors:
  * `cosine_e9(a, b) = round(cos(a,b) * 1e9)` with the DECIMAL(30,15)
  * summation the oracle replays (see [[VectorKernels]]). As a native
  * codegen'd expression this scores a candidate pair in one static
  * call — the interpreted lambda overhead of a zip_with/aggregate
  * fold is the dominant cost of similarity joins otherwise.
  */
case class CosineE9(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineE9(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.cosineE9($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineE9 =
    copy(left = l, right = r)
}

/** Plain-double cosine prefilter (see
  * [[VectorKernels.cosineApprox]]) — admits candidates for the
  * decimal-exact [[CosineE9]] to re-score; never in a reported value.
  */
case class CosineApprox(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineApprox(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.cosineApprox($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineApprox =
    copy(left = l, right = r)
}

/** Decimal-exact scaled squared L2 distance over a float subvector
  * (see [[VectorKernels.sqDistE9]]) — the product-quantization
  * subspace/ADC kernel. `from` is a plan-time constant, not a child.
  */
case class SqDistE9(left: Expression, right: Expression, from: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sqDistE9(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], from)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.sqDistE9($a, $b, $from)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistE9 =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket id of a float vector (codegen'd; the
  * ±1 plane matrix is the md5-derived constant the oracle replays).
  */
case class LshBucket(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.lshBucket(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorKernels.lshBucket($v)")
  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

/** Multi-probe companion bucket: the primary LSH bucket with its
  * lowest-|projection| bit flipped (see [[VectorKernels.lshBucketFlip]])
  * — probing it bounds the extra ANN candidate volume at exactly one
  * more bucket per vector while recovering the neighbours a
  * near-hyperplane vector loses to bucket quantization.
  */
case class LshBucketFlip(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.lshBucketFlip(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorKernels.lshBucketFlip($v)")
  override protected def withNewChildInternal(newChild: Expression): LshBucketFlip =
    copy(child = newChild)
}

/** Geometry-parameterized LSH bucket id ([[VectorKernels.lshBucketN]]):
  * `nPlanes` is a plan-time constant (like [[SqDistE9]]'s `from`) —
  * the adaptive scale path picks it from the corpus count so bucket
  * occupancy, and with it the Σocc² candidate law, stays flat as the
  * corpus grows.
  */
case class LshBucketP(child: Expression, nPlanes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.lshBucketN(v.asInstanceOf[ArrayData], nPlanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorKernels.lshBucketN($v, $nPlanes)")
  override protected def withNewChildInternal(newChild: Expression): LshBucketP =
    copy(child = newChild)
}

/** Geometry-parameterized multi-probe companion ([[LshBucketP]]'s dual). */
case class LshBucketFlipP(child: Expression, nPlanes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.lshBucketFlipN(v.asInstanceOf[ArrayData], nPlanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorKernels.lshBucketFlipN($v, $nPlanes)")
  override protected def withNewChildInternal(newChild: Expression): LshBucketFlipP =
    copy(child = newChild)
}

/** Intersection size of two ascending-sorted long arrays (see
  * [[VectorKernels.sortedIntersectCount]]) — the pair-scoring kernel
  * of the n-gram Jaccard join, O(|A|+|B|) per pair with no
  * vocabulary-width term.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** [[SortedIntersectCount]] over ascending-sorted STRING arrays
  * (binary order): intersection size without a word->id map.
  */
case class SortedIntersectCountStr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedIntersectCountStr(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.sortedIntersectCountStr($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCountStr =
    copy(left = l, right = r)
}

/** Packed wedge keys a·2³² + ns[k] for every k > pos (see
  * [[VectorKernels.packSuffixKeys]]) — the codegen'd wedge-emission
  * primitive of the graph kernels.
  */
case class PackSuffixKeys(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == ArrayType(LongType, containsNull = false) ||
      first.dataType == ArrayType(LongType, containsNull = true)) {
      if (second.dataType == IntegerType && third.dataType == LongType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pack_suffix_keys(ns, pos, a) needs (array<bigint>, int, bigint); got " +
          s"pos ${second.dataType.sql}, a ${third.dataType.sql}")
    } else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pack_suffix_keys(ns, pos, a) needs array<bigint> ns, got ${first.dataType.sql}")
  override protected def nullSafeEval(ns: Any, pos: Any, a: Any): Any =
    VectorKernels.packSuffixKeys(ns.asInstanceOf[ArrayData],
      pos.asInstanceOf[Int], a.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ns, pos, a) =>
      s"graft.functions.VectorKernels.packSuffixKeys($ns, $pos, $a)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PackSuffixKeys =
    copy(first = f, second = s, third = t)
}

/** Distinct 3-word shingles of a word array (see
  * [[VectorKernels.shingles3]]) — the codegen'd shingle emission of the
  * minhash signature pass.
  */
case class Shingles3(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingles3 requires array<string>, got ${other.sql}")
    }
  override protected def nullSafeEval(w: Any): Any =
    VectorKernels.shingles3(w.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w => s"graft.functions.VectorKernels.shingles3($w)")
  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

/** Morton (Z-order) interleave of two cell coordinates — the
  * space-filling-curve key used to CLUSTER spatial data on disk so a
  * bbox query touches O(few) contiguous file ranges instead of the
  * whole table (the Z-ordering layout step of a 100 TB geo corpus).
  * Pure bit math, codegen'd via a static call; the oracle replays it
  * as unrolled div/mod arithmetic.
  */
case class MortonInterleave(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(x: Any, y: Any): Any =
    GeoUtil.morton(x.asInstanceOf[Long], y.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.GeoUtil.morton($x, $y)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MortonInterleave =
    copy(left = l, right = r)
}

/** Native Generator (UDTF surface, SURVEY §2.5): emits one row per
  * word n-gram of a text column — the custom-generator counterpart to
  * posexplode, streaming rows lazily instead of materializing the
  * n-gram array per input row.
  */
case class NGrams(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("ngram", StringType, nullable = false),
  ))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      // limit -1 keeps trailing empty tokens, matching Catalyst
      // split(text, ' ') and DuckDB string_split — Java's default
      // split drops them, which would diverge on trailing spaces
      val words = v.asInstanceOf[UTF8String].toString.split(" ", -1)
      if (words.length < n) Iterator.empty
      else (0 to words.length - n).iterator.map { i =>
        InternalRow(i, UTF8String.fromString(words.slice(i, i + n).mkString(" ")))
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): NGrams =
    copy(child = newChild)
}

/** MOSS winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03)
  * as one codegen'd call: word k-grams hashed by the first 4 md5
  * bytes (bit-identical to `conv(substr(md5(...),1,8),16,10)` and the
  * DuckDB oracle replay), minimum of each w-window, distinct, in one
  * primitive-array pass per row. The pure-SQL higher-order-function
  * formulation computes the same values but falls outside whole-stage
  * codegen (interpreted lambdas) and costs ~6x more per row.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, s"winnow_fingerprints needs k,w >= 1; got k=$k w=$w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_fingerprints requires a string argument, got ${child.dataType.sql}")
  override protected def nullSafeEval(input: Any): Any =
    WinnowKernel.winnow(input.toString, k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowKernel.winnow($c.toString(), $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowKernel {
  /** Distinct window-minima of md5-based k-gram hashes; empty when the
    * doc has fewer than k+w-1 words (no full window exists).
    */
  def winnow(text: String, k: Int, w: Int): ArrayData = {
    val words = text.split(" ", -1)
    val m = words.length - k + 1
    if (m < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val grams = new Array[Long](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars == first 4 bytes, big-endian unsigned
      grams(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    val nWin = m - w + 1
    while (j < nWin) {
      var mn = grams(j)
      var t = j + 1
      while (t < j + w) {
        if (grams(t) < mn) mn = grams(t)
        t += 1
      }
      out.add(mn)
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var x = 0
    while (it.hasNext) { arr(x) = it.next(); x += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Binary-in/binary-out codec expression base: the HTTP payload codecs
  * ([[HttpCodec]]) share everything but the kernel call. All four stay
  * inside whole-stage codegen via static calls, per the file's
  * discipline — HTTP body decode runs per record on crawl-scale
  * archives, the worst place for an interpreted fallback.
  */
sealed abstract class BinaryCodecExpression extends UnaryExpression {
  /** `graft.functions.HttpCodec.<kernel>` static method name. */
  protected def kernel: String
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a binary argument, got ${child.dataType.sql}")
  override protected def nullSafeEval(input: Any): Any =
    evalKernel(input.asInstanceOf[Array[Byte]])
  protected def evalKernel(bytes: Array[Byte]): Array[Byte]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HttpCodec.$kernel($c)")
}

/** Deterministic single-member gzip (RFC 1952, MTIME=0) — the
  * content-encoding side of real crawl HTTP payloads.
  */
case class GzipCompress(child: Expression) extends BinaryCodecExpression {
  override protected def kernel: String = "gzipCompress"
  override protected def evalKernel(b: Array[Byte]): Array[Byte] =
    HttpCodec.gzipCompress(b)
  override protected def withNewChildInternal(newChild: Expression): GzipCompress =
    copy(child = newChild)
}

/** Inflate one gzip member, CRC/ISIZE-validated ([[HttpCodec]]). */
case class GzipDecompress(child: Expression) extends BinaryCodecExpression {
  override protected def kernel: String = "gzipDecompress"
  override protected def evalKernel(b: Array[Byte]): Array[Byte] =
    HttpCodec.gzipDecompress(b)
  override protected def withNewChildInternal(newChild: Expression): GzipDecompress =
    copy(child = newChild)
}

/** Render a body as RFC 9112 chunked transfer-encoding. */
case class ChunkedEncode(child: Expression, chunkSize: Int)
    extends BinaryCodecExpression {
  require(chunkSize > 0, s"chunked_encode needs chunkSize >= 1, got $chunkSize")
  override protected def kernel: String = "chunkedEncode"
  override protected def evalKernel(b: Array[Byte]): Array[Byte] =
    HttpCodec.chunkedEncode(b, chunkSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HttpCodec.chunkedEncode($c, $chunkSize)")
  override protected def withNewChildInternal(newChild: Expression): ChunkedEncode =
    copy(child = newChild)
}

/** Decode an RFC 9112 chunked body (extensions/trailers tolerated,
  * framing violations abort loudly).
  */
case class ChunkedDecode(child: Expression) extends BinaryCodecExpression {
  override protected def kernel: String = "chunkedDecode"
  override protected def evalKernel(b: Array[Byte]): Array[Byte] =
    HttpCodec.chunkedDecode(b)
  override protected def withNewChildInternal(newChild: Expression): ChunkedDecode =
    copy(child = newChild)
}

/** Deterministic zlib-wrapped deflate (RFC 1950 — the RFC 9110
  * meaning of `Content-Encoding: deflate`).
  */
case class DeflateCompress(child: Expression) extends BinaryCodecExpression {
  override protected def kernel: String = "deflateCompress"
  override protected def evalKernel(b: Array[Byte]): Array[Byte] =
    HttpCodec.deflateCompress(b)
  override protected def withNewChildInternal(newChild: Expression): DeflateCompress =
    copy(child = newChild)
}

/** Deterministic RAW deflate — the non-conformant-server shape the
  * decoder's sniffing fallback exists for.
  */
case class DeflateCompressRaw(child: Expression) extends BinaryCodecExpression {
  override protected def kernel: String = "deflateCompressRaw"
  override protected def evalKernel(b: Array[Byte]): Array[Byte] =
    HttpCodec.deflateCompressRaw(b)
  override protected def withNewChildInternal(newChild: Expression): DeflateCompressRaw =
    copy(child = newChild)
}

/** Decode a `deflate` body, zlib-header-sniffing raw fallback
  * ([[HttpCodec.deflateDecompress]]).
  */
case class DeflateDecompress(child: Expression) extends BinaryCodecExpression {
  override protected def kernel: String = "deflateDecompress"
  override protected def evalKernel(b: Array[Byte]): Array[Byte] =
    HttpCodec.deflateDecompress(b)
  override protected def withNewChildInternal(newChild: Expression): DeflateDecompress =
    copy(child = newChild)
}

/** Column-API surface for the custom expressions. */
/** Shared shape of the two md5-device expressions: N string children
  * digested as one concatenation (null if any child is null — exactly
  * `md5(concat(...))`'s null semantics).
  */
trait Md5DeviceExpression extends Expression {
  override def nullable: Boolean = children.exists(_.nullable)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.nonEmpty && children.forall(_.dataType == StringType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires 1+ string arguments, got " +
          children.map(_.dataType.sql).mkString(", "))
  /** `Md5Kernel.<method>(<partsVar>)` */
  protected def kernelCall(partsVar: String): String
  protected def kernelEval(parts: Array[UTF8String]): Any
  override def eval(input: InternalRow): Any = {
    val parts = new Array[UTF8String](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      parts(i) = v.asInstanceOf[UTF8String]
      i += 1
    }
    kernelEval(parts)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val parts = ctx.freshName("parts")
    val tpe = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    // nested null short-circuit: evaluate child i only if 0..i-1 were
    // non-null, exactly the interpreted eval's order
    val body = evals.zipWithIndex.foldRight(
      s"${ev.isNull} = false;\n${ev.value} = ${kernelCall(parts)};") {
      case ((e, i), inner) =>
        s"""${e.code}
           |if (${e.isNull}) { ${ev.isNull} = true; } else {
           |  $parts[$i] = ${e.value};
           |  $inner
           |}""".stripMargin
    }
    ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.Block
      .BlockHelper(
        new StringContext(
          s"""boolean ${ev.isNull} = true;
             |$tpe ${ev.value} = ${org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.defaultValue(dataType)};
             |org.apache.spark.unsafe.types.UTF8String[] $parts =
             |  new org.apache.spark.unsafe.types.UTF8String[${children.length}];
             |$body
             |""".stripMargin)).code())
  }
}

/** `CAST(conv(substring(md5(concat(parts...)), 1, nHex), 16, 10) AS
  * BIGINT)` as one thread-local-digest kernel call (see [[Md5Kernel]]).
  */
case class Md5PrefixLong(nHex: Int, children: Seq[Expression])
    extends Md5DeviceExpression {
  require(nHex >= 1 && nHex <= 15,
    s"md5_prefix_long needs 1 <= nHex <= 15 (long-safe); got $nHex")
  override def dataType: DataType = LongType
  override protected def kernelCall(partsVar: String): String =
    s"graft.functions.Md5Kernel.prefixLong($nHex, $partsVar)"
  override protected def kernelEval(parts: Array[UTF8String]): Any =
    Md5Kernel.prefixLong(nHex, parts)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Md5PrefixLong =
    copy(children = newChildren)
}

/** `md5(concat(parts...))` (full 32-char lowercase hex) via the same
  * thread-local-digest kernel.
  */
case class Md5HexMulti(children: Seq[Expression])
    extends Md5DeviceExpression {
  override def dataType: DataType = StringType
  override protected def kernelCall(partsVar: String): String =
    s"graft.functions.Md5Kernel.hex($partsVar)"
  override protected def kernelEval(parts: Array[UTF8String]): Any =
    Md5Kernel.hex(parts)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Md5HexMulti =
    copy(children = newChildren)
}

object exprs {
  private def c(e: Expression): Column = org.apache.spark.sql.graftbridge.Bridge.column(e)
  private def e(col: Column): Expression = org.apache.spark.sql.graftbridge.Bridge.expression(col)

  def md5_prefix_long(nHex: Int, parts: Column*): Column =
    c(Md5PrefixLong(nHex, parts.map(e)))
  def md5_hex(parts: Column*): Column = c(Md5HexMulti(parts.map(e)))
  def js_coord_join(coords: Column): Column = c(JsCoordJoin(e(coords)))
  def js_coord_join_raw(rawJson: Column): Column = c(JsCoordJoinRaw(e(rawJson)))
  def base62_encode_hex(hex: Column): Column = c(Base62EncodeHex(e(hex)))
  def js_parse_int(s: Column): Column = c(JsParseInt(e(s)))
  def st_contains(polygonRings: Column, point: Column): Column =
    c(StContains(e(polygonRings), e(point)))
  def rolling_hash(s: Column): Column = c(RollingHash(e(s)))
  def kmv_distinct(col: Column, k: Int): Column =
    c(KmvDistinct(e(col), k).toAggregateExpression())
  def gram_sum(v: Column, dim: Int): Column =
    c(GramSumAgg(e(v), dim).toAggregateExpression())
  def top_k_pairs(v: Column, w: Column, k: Int): Column =
    c(TopKPairs(e(v), e(w), k).toAggregateExpression())
  def sorted_long_set(col: Column): Column =
    c(SortedLongSet(e(col)).toAggregateExpression())
  def pack_suffix_keys(ns: Column, pos: Column, a: Column): Column =
    c(PackSuffixKeys(e(ns), e(pos), e(a)))
  def shingles3(w: Column): Column = c(Shingles3(e(w)))
  def misra_gries(col: Column, k: Int): Column =
    c(MisraGries(e(col), k).toAggregateExpression())
  def cosine_e9(a: Column, b: Column): Column = c(CosineE9(e(a), e(b)))
  def sq_dist_e9(a: Column, b: Column, from: Int): Column =
    c(SqDistE9(e(a), e(b), from))
  def cosine_approx(a: Column, b: Column): Column = c(CosineApprox(e(a), e(b)))
  def lsh_bucket(v: Column): Column = c(LshBucket(e(v)))
  def lsh_bucket_flip(v: Column): Column = c(LshBucketFlip(e(v)))
  def lsh_bucket_n(v: Column, nPlanes: Int): Column = c(LshBucketP(e(v), nPlanes))
  def lsh_bucket_flip_n(v: Column, nPlanes: Int): Column =
    c(LshBucketFlipP(e(v), nPlanes))
  def ngrams(text: Column, n: Int): Column = c(NGrams(e(text), n))
  def sorted_intersect_count(a: Column, b: Column): Column =
    c(SortedIntersectCount(e(a), e(b)))
  def sorted_intersect_count_str(a: Column, b: Column): Column =
    c(SortedIntersectCountStr(e(a), e(b)))
  def morton_interleave(x: Column, y: Column): Column =
    c(MortonInterleave(e(x), e(y)))
  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    c(WinnowFingerprints(e(text), k, w))
  def gzip_compress(bin: Column): Column = c(GzipCompress(e(bin)))
  def gzip_decompress(bin: Column): Column = c(GzipDecompress(e(bin)))
  def chunked_encode(bin: Column, chunkSize: Int): Column =
    c(ChunkedEncode(e(bin), chunkSize))
  def chunked_decode(bin: Column): Column = c(ChunkedDecode(e(bin)))
  def deflate_compress(bin: Column): Column = c(DeflateCompress(e(bin)))
  def deflate_compress_raw(bin: Column): Column =
    c(DeflateCompressRaw(e(bin)))
  def deflate_decompress(bin: Column): Column = c(DeflateDecompress(e(bin)))

  /** Constant-int `planes` argument for the geometry-parameterized
    * LSH functions: plan-time literal in [1, 20], validated with the
    * usage name instead of a raw cast failure.
    */
  private def planesLit(es: Seq[Expression], fn: String): Int = {
    def bad(msg: String) = throw new org.apache.spark.sql.AnalysisException(
      "_LEGACY_ERROR_TEMP_1332", Map("errorMessage" -> s"$fn(v, planes): $msg"))
    if (es.length != 2) bad(s"takes 2 arguments, got ${es.length}")
    val e = es(1)
    if (!e.foldable) bad("planes must be a constant integer literal")
    val n = e.eval() match {
      case i: Int => i
      case i: java.lang.Integer => i.intValue()
      case l: Long if l == l.toInt => l.toInt
      case other => bad(s"planes must be a constant INT, got $other"); 0
    }
    if (n < 1 || n > 20) bad(s"planes must be in [1, 20], got $n")
    n
  }

  /** One row per SQL-callable scalar expression: (name, usage,
    * builder). Single source of truth for BOTH registration surfaces —
    * the config-time `spark.sql.extensions=graft.plans.GraftExtensions`
    * hook and the runtime `register(spark)` below — so the two SQL
    * surfaces cannot drift apart (they had: js_parse_int was
    * runtime-only; rolling_hash, the cosine kernels, lsh_bucket,
    * sorted_intersect_count and morton_interleave extensions-only).
    */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("md5_prefix_long",
      "md5_prefix_long(n, str...) - BIGINT value of the first n (<=15) hex digits of md5(concat(str...))",
      es => {
        if (es.length < 2) throw new org.apache.spark.sql.AnalysisException(
          "_LEGACY_ERROR_TEMP_1332",
          Map("errorMessage" ->
            s"md5_prefix_long(n, str...) takes 2+ arguments, got ${es.length}"))
        val n = es.head match {
          case lit if lit.foldable => lit.eval() match {
            case i: Int => i
            case i: java.lang.Integer => i.intValue()
            case l: Long if l == l.toInt => l.toInt
            case other => throw new org.apache.spark.sql.AnalysisException(
              "_LEGACY_ERROR_TEMP_1332",
              Map("errorMessage" ->
                s"md5_prefix_long(n, str...): n must be a constant INT, got $other"))
          }
          case _ => throw new org.apache.spark.sql.AnalysisException(
            "_LEGACY_ERROR_TEMP_1332",
            Map("errorMessage" ->
              "md5_prefix_long(n, str...): n must be a constant integer literal"))
        }
        Md5PrefixLong(n, es.tail)
      }),
    ("md5_hex",
      "md5_hex(str...) - md5(concat(str...)) as 32-char lowercase hex",
      es => Md5HexMulti(es)),
    ("js_coord_join",
      "js_coord_join(array<double>) - ECMAScript Array.join(',')",
      es => JsCoordJoin(es.head)),
    ("js_coord_join_raw",
      "js_coord_join_raw(json) - ECMAScript join over a raw GeoJSON coordinates subtree",
      es => JsCoordJoinRaw(es.head)),
    ("base62_encode_hex",
      "base62_encode_hex(hex) - base-62 encoding of a hex digest",
      es => Base62EncodeHex(es.head)),
    ("js_parse_int",
      "js_parse_int(str) - ECMAScript parseInt: tolerant prefix parse ('12abc' -> 12)",
      es => JsParseInt(es.head)),
    ("st_contains",
      "st_contains(rings, point) - point-in-polygon with holes, boundary-inclusive",
      es => StContains(es(0), es(1))),
    ("rolling_hash",
      "rolling_hash(str) - Karp-Rabin fingerprint mod 2^31-1",
      es => RollingHash(es.head)),
    ("cosine_e9",
      "cosine_e9(array<float>, array<float>) - round(cosine*1e9), decimal-exact",
      es => CosineE9(es(0), es(1))),
    ("cosine_approx",
      "cosine_approx(array<float>, array<float>) - double-precision cosine prefilter",
      es => CosineApprox(es(0), es(1))),
    ("lsh_bucket",
      "lsh_bucket(array<float>) - 6-plane random-hyperplane LSH bucket id",
      es => LshBucket(es.head)),
    ("lsh_bucket_flip",
      "lsh_bucket_flip(array<float>) - multi-probe companion bucket (lowest-confidence bit flipped)",
      es => LshBucketFlip(es.head)),
    ("lsh_bucket_n",
      "lsh_bucket_n(array<float>, planes) - LSH bucket id at an explicit plane count (adaptive geometry)",
      es => LshBucketP(es(0), planesLit(es, "lsh_bucket_n"))),
    ("lsh_bucket_flip_n",
      "lsh_bucket_flip_n(array<float>, planes) - multi-probe companion at an explicit plane count",
      es => LshBucketFlipP(es(0), planesLit(es, "lsh_bucket_flip_n"))),
    ("sorted_intersect_count",
      "sorted_intersect_count(array<bigint>, array<bigint>) - intersection size of two ascending-sorted arrays",
      es => SortedIntersectCount(es(0), es(1))),
    ("sorted_intersect_count_str",
      "sorted_intersect_count_str(array<string>, array<string>) - intersection size of two ascending-sorted string arrays",
      es => SortedIntersectCountStr(es(0), es(1))),
    ("morton_interleave",
      "morton_interleave(x, y) - Z-order curve key of two non-negative cell coordinates",
      es => MortonInterleave(es(0), es(1))),
    ("winnow_fingerprints",
      "winnow_fingerprints(text, k, w) - distinct MOSS winnowing fingerprints (md5 k-gram window minima)",
      es => {
        // k and w shape the generated kernel, so they must be
        // compile-time integer literals — validate here and fail with
        // the usage string instead of a raw ClassCastException/NPE.
        def intLit(e: Expression, name: String): Int = {
          if (!e.foldable) throw new org.apache.spark.sql.AnalysisException(
            "_LEGACY_ERROR_TEMP_1332",
            Map("errorMessage" ->
              s"winnow_fingerprints(text, k, w): $name must be a constant integer literal"))
          e.eval() match {
            case i: Int => i
            case i: java.lang.Integer => i.intValue()
            case l: Long if l == l.toInt => l.toInt
            case other => throw new org.apache.spark.sql.AnalysisException(
              "_LEGACY_ERROR_TEMP_1332",
              Map("errorMessage" ->
                s"winnow_fingerprints(text, k, w): $name must be a constant INT, got $other"))
          }
        }
        if (es.length != 3) throw new org.apache.spark.sql.AnalysisException(
          "_LEGACY_ERROR_TEMP_1332",
          Map("errorMessage" ->
            s"winnow_fingerprints(text, k, w) takes 3 arguments, got ${es.length}"))
        WinnowFingerprints(es(0), intLit(es(1), "k"), intLit(es(2), "w"))
      }),
  )

  /** Register the expressions for the `spark.sql` surface, once per
    * session: names the session's registry already holds (from an
    * earlier call or [[graft.plans.GraftExtensions]]) are left as they
    * are.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, builder) =>
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
