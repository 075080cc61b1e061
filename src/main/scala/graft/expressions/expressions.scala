package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.{ElemType, Metric}
import graft.codec.VectorCodec
import graft.kernels.{Distances, Quantize, Sketches}

/** `vector_distance(a, b)` over canonical `array<float>` columns.
  *
  * Computes in double precision with strictly sequential accumulation —
  * deterministic, partition-order independent, and exactly reproducible by
  * an ANSI-SQL restatement evaluated in double (the correctness oracle).
  *
  * Replicates the reference's metric semantics (distance-cpu.c): negated
  * dot (:112-136), cosine zero-norm → 1.0 (:105-107) with clamp to [-1,1],
  * L2 = sqrt of squared sum (:39-68). Fully whole-stage-codegen'd: the
  * generated loop is a tight primitive `for` the JIT auto-vectorizes —
  * the Spark-era replacement for the reference's hand-written SIMD kernels
  * (distance-avx2.c etc).
  */
case class VectorDistance(left: Expression, right: Expression, metric: Metric)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_distance"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    Distances.onDouble(metric)(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val body = metric match {
        case Metric.L2 | Metric.SquaredL2 =>
          val acc = ctx.freshName("acc")
          val fin = if (metric == Metric.L2) s"java.lang.Math.sqrt($acc)" else acc
          s"""
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
             |  $acc += d * d;
             |}
             |${ev.value} = $fin;
           """.stripMargin
        case Metric.L1 =>
          val acc = ctx.freshName("acc")
          s"""
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $acc += java.lang.Math.abs((double) $a.getFloat($i) - (double) $b.getFloat($i));
             |}
             |${ev.value} = $acc;
           """.stripMargin
        case Metric.Dot =>
          val acc = ctx.freshName("acc")
          s"""
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
             |}
             |${ev.value} = -$acc;
           """.stripMargin
        case Metric.Cosine =>
          val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
          val c = ctx.freshName("c")
          s"""
             |double $dot = 0.0, $na = 0.0, $nb = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double x = (double) $a.getFloat($i);
             |  double y = (double) $b.getFloat($i);
             |  $dot += x * y; $na += x * x; $nb += y * y;
             |}
             |if ($na == 0.0 || $nb == 0.0) { ${ev.value} = 1.0; } else {
             |  double $c = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
             |  if (Double.isNaN($c) || Double.isInfinite($c)) { ${ev.value} = 1.0; }
             |  else { ${ev.value} = 1.0 - java.lang.Math.max(-1.0, java.lang.Math.min(1.0, $c)); }
             |}
           """.stripMargin
      }
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |$body
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Reference-fidelity distance over packed BLOB vectors (BinaryType),
  * dispatching the full 25-entry (metric × element-type) kernel table
  * (distance-cpu.c:21) including f16/bf16/i8/u8 and the caller-side
  * 8·FLT_EPSILON zero clamp (sqlite-vector.c:994-996). Returns FloatType —
  * the reference's return width.
  */
case class PackedVectorDistance(left: Expression, right: Expression, metric: Metric, elemType: ElemType)
    extends BinaryExpression {

  override def dataType: DataType = FloatType
  override def prettyName: String = "vector_distance_packed"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val d = Distances.onPacked(metric, elemType)(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    Distances.zeroClamp(d)
  }

  /** Whole-stage codegen: a constant-argument static call the JIT inlines
    * down to the single (metric, type) kernel loop — no boxing, no virtual
    * dispatch, stays inside the WholeStageCodegen span.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mId = Distances.metricId(metric)
    val tId = Distances.typeId(elemType)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.kernels.Distances.zeroClamp(graft.kernels.Distances.packedJ($a, $b, $mId, $tId));")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `pack_vector(v)` — canonical `array<float>` → packed little-endian BLOB
  * of the target element type (the reference's storage form,
  * sqlite-vector.c:1663-1675; f16/bf16 conversion distance-cpu.h:100-128).
  * Codegen'd via a static helper taking the ArrayData directly.
  */
case class PackVector(child: Expression, target: ElemType)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = BinaryType
  // array<float> only: ArrayData.getFloat on an array<double> would silently
  // read wrong 4-byte words; make that an analysis error instead.
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def prettyName: String = s"pack_vector_${target.name.toLowerCase}"

  override def nullSafeEval(v: Any): Any =
    VectorCodec.packArrayData(v.asInstanceOf[ArrayData], Distances.typeId(target))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tId = Distances.typeId(target)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.codec.VectorCodec.packArrayData($c, $tId);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `quantize_codes(vec)` — array<float> → packed i8/u8 codes (BinaryType),
  * the per-row half of the reference's quantization pass 2
  * (sqlite-vector.c:1278-1327): code = round_half_away((x − offset) × scale)
  * saturated, NaN→0 (:495-515).
  */
case class QuantizeCodes(child: Expression, scale: Double, offset: Double, isU8: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "quantize_codes"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData].toFloatArray()
    val out = new Array[Byte](x.length)
    var i = 0
    while (i < x.length) {
      val q = (x(i).toDouble - offset) * scale
      out(i) = (if (isU8) Quantize.roundU8(q) else Quantize.roundI8(q)).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val round = if (isU8) "graft.kernels.Quantize.roundU8" else "graft.kernels.Quantize.roundI8"
      s"""
         |int $n = $c.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (byte) $round(((double) $c.getFloat($i) - $offset) * $scale);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Integer squared-L2 (or dot/L1/cosine) between packed i8/u8 code vectors —
  * the quantized-scan distance computed in code space, NOT dequantized
  * (sqlite-vector.c:2198-2200). Exact integer accumulation (LongType out
  * for L2²/L1/dot) makes results bit-exact and order-independent.
  */
case class CodeDistance(left: Expression, right: Expression, metric: Metric, signed: Boolean)
    extends BinaryExpression {

  override def dataType: DataType = metric match {
    case Metric.Cosine | Metric.L2 => DoubleType
    case _                         => LongType
  }
  override def prettyName: String = "code_distance"

  private def mId = Distances.metricId(metric)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]; val y = b.asInstanceOf[Array[Byte]]
    val d = Distances.codeDistance(mId, signed, x, 0, y, 0, math.min(x.length, y.length))
    if (dataType == LongType) d.toLong else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cast = if (dataType == LongType) "(long) " else ""
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${cast}graft.kernels.Distances.codeDistance($mId, $signed, " +
        s"$a, 0, $b, 0, java.lang.Math.min($a.length, $b.length));")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sum of a packed i8/u8 code vector as a Long — exact integer arithmetic
  * for verifying quantization output against an independent oracle.
  */
case class CodeSum(child: Expression, signed: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "code_sum"

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    var acc = 0L; var i = 0
    while (i < b.length) { acc += (if (signed) b(i).toInt else b(i) & 0xff); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      val rd = if (signed) s"(int) $c[$i]" else s"($c[$i] & 0xff)"
      s"""
         |long $acc = 0L;
         |for (int $i = 0; $i < $c.length; $i++) { $acc += $rd; }
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct hashed n-gram shingles of a text column (`string` →
  * `array<long>`): ascii-strip + lowercase + n-gram windows + 64-bit hash
  * in one codegen'd pass over the UTF-8 bytes. Replaces a
  * sequence/substring/array_distinct chain whose per-char substring made
  * shingling O(len²) per document and ran interpreted (higher-order
  * functions are CodegenFallback).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n > 0, s"shingle width must be > 0, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(v: Any): Any =
    Sketches.shingleHashes(v.asInstanceOf[UTF8String].getBytes, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.shingleHashes($c.getBytes(), $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sign-bit binary quantization (`array<float>` → `array<long>` of
  * ceil(dim/64) packed words): bit i set iff v[i] > 0. The 1-bit member of
  * the quantization family (32× compression vs f32; the reference stops at
  * i8/u8, sqlite-vector.c:1258-1272) — a Hamming scan over these words
  * reads 1/32 of the bytes of the full-precision store.
  */
case class SignBits(child: Expression, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(dim > 0, s"dim must be > 0, got $dim")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def prettyName: String = "sign_bits"

  override def nullSafeEval(v: Any): Any =
    Sketches.signBits(v.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.signBits($c, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance between two packed bit signatures (`array<long>`,
  * `array<long>` → long): popcount of the XOR — one JIT'd POPCNT per 64
  * dims inside whole-stage codegen.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def prettyName: String = "hamming_distance"

  override def nullSafeEval(a: Any, b: Any): Any =
    Sketches.hamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.kernels.Sketches.hamming($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two sorted `array<long>` columns: a codegen'd
  * merge scan — the exact-verification kernel of the dedup pipelines
  * (ShingleHashes emits sorted arrays). No per-row hash sets.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    Sketches.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.kernels.Sketches.sortedIntersectCount($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Position-wise agreement count of two `array<long>` MinHash signatures —
  * the codegen'd Jaccard estimator (agreement/numHashes is an unbiased
  * estimate of the true Jaccard).
  */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def prettyName: String = "sig_match_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    Sketches.matchCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.kernels.Sketches.matchCount($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature over pre-hashed shingles (`array<long>` → `array<long>`
  * of `numHashes` minima). The row-local half of MinHash-LSH dedup: computed
  * in one codegen'd pass, no explode, no shuffle — only the compact
  * signature ever moves.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(numHashes > 0, s"numHashes must be > 0, got $numHashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(v: Any): Any =
    Sketches.minhash(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.minhash($c, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash of a token array (`array<string>` → long): bit b set iff more
  * token hashes ([[graft.kernels.Sketches.tokenHash63]], exact BIGINT
  * arithmetic, SQL-restatable, per-bit balanced so the majority vote
  * can't collapse to constants) have bit b set than clear. A native
  * expression, not a UDF — one traversal per row, inside
  * WholeStageCodegen with the tokenizer built-ins feeding it.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any =
    Sketches.simhash64(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.simhash64($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 61-bit polynomial hash of a string ([[graft.kernels.Sketches.tokenHash61]]
  * — bases 31/131, moduli 1e9+7 and 2³¹−1, exact BIGINT arithmetic), the
  * SQL-restatable narrow key for shuffle-heavy string grouping: 8 bytes
  * cross the exchange instead of the string, and the oracle recomputes the
  * key independently (the property xxhash64 lacks). Same entropy note as
  * SimHash: bits 61-63 are always clear.
  */
case class StringHash61(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "string_hash61"

  override def nullSafeEval(v: Any): Any =
    Sketches.tokenHash61(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.tokenHash61($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unicode NFC canonical composition (UAX #15) — the normalization pass
  * that runs BEFORE any fingerprint/dedup stage on real-world text:
  * visually identical strings with different codepoint sequences (`é`
  * composed U+00E9 vs decomposed U+0065 U+0301) must hash and dedup
  * together, and NFC is the canonical composed form crawlers disagree
  * on most. Wraps the JDK's `java.text.Normalizer` as a codegen'd
  * expression (no UDF, no per-row serialization); the gate's oracle is
  * DuckDB's `nfc_normalize` — an INDEPENDENT implementation (utf8proc)
  * of the same Unicode algorithm, so the comparison cross-checks two
  * codebases against the standard.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      v.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = UTF8String.fromString(java.text.Normalizer.normalize(
         |  $c.toString(), java.text.Normalizer.Form.NFC));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Byte-histogram featurizer for binary payloads: fixed-width
  * `array<float>` with out[i % dim] += byte/256 (see
  * [[graft.kernels.Sketches.byteHistogram]] for the exactness argument).
  * A native expression, not a UDF, so the featurizer stays inside
  * WholeStageCodegen with the rest of the multimodal projection.
  */
case class ByteHistogram(child: Expression, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(dim > 0, s"dim must be > 0, got $dim")
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def prettyName: String = "byte_histogram"

  override def nullSafeEval(v: Any): Any =
    Sketches.byteHistogram(v.asInstanceOf[Array[Byte]], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.byteHistogram($c, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Random-hyperplane LSH signature of an `array<float>` vector: bit b set
  * iff dot(v, plane_b) > 0, all `nBits` bits in ONE traversal of the
  * vector. Planes derive deterministically from (nBits, dim, seed) — plain
  * case-class fields, so expression equality/canonicalization stay sound
  * and the plane matrix is rebuilt (not shipped) on executors. Per-plane
  * dots accumulate sequentially in double, exactly restatable in SQL.
  */
case class HyperplaneSignature(child: Expression, nBits: Int, dim: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  require(nBits > 0 && nBits <= 63, s"nBits must be in [1,63], got $nBits")
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def prettyName: String = "hyperplane_signature"

  @transient private lazy val planes: Array[Array[Double]] = Sketches.planes(nBits, dim, seed)

  override def nullSafeEval(v: Any): Any =
    Sketches.hyperplaneSig(v.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.hyperplaneSig($c, $planesRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Gaussian random projection (Johnson-Lindenstrauss dimensionality
  * reduction): `array<float>` (dim) → `array<double>` (outDim), out_b =
  * dot(v, plane_b)/√outDim over the same deterministic (seed-derived)
  * plane matrix machinery as [[HyperplaneSignature]] — so the oracle
  * restates the exact projection with the planes as SQL literals.
  * Sequential per-lane accumulation (list_sum order); NULL lanes and dim
  * drift fail fast like the sibling kernels.
  */
case class RandomProjection(child: Expression, outDim: Int, dim: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  require(outDim > 0, s"outDim must be positive, got $outDim")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def prettyName: String = "random_projection"

  @transient private lazy val planes: Array[Array[Double]] = Sketches.planes(outDim, dim, seed)
  private val scale: Double = 1.0 / math.sqrt(outDim.toDouble)

  override def nullSafeEval(v: Any): Any =
    Sketches.project(v.asInstanceOf[ArrayData], planes, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    // Double.toString round-trips, so the inlined Java literal is the
    // exact same scale the interpreted path multiplies by
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.project($c, $planesRef, ${scale}d);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid assignment for IVF-style coarse quantization:
  * `array<float>` → the index of the closest centroid (squared-L2,
  * sequential double accumulation, ties to the lowest index — all exactly
  * restatable in SQL with the centroid matrix as literals). Centroids are
  * a value-equal Seq field, so expression equality stays sound.
  */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Float]])
    extends UnaryExpression with ExpectsInputTypes {

  require(centroids.nonEmpty, "at least one centroid required")
  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val mat: Array[Array[Float]] = centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    Sketches.nearestCentroid(v.asInstanceOf[ArrayData], mat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", mat, "float[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.nearestCentroid($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-traversal (min, max) over an `array<float>` with NaN lanes
  * skipped — the per-row half of quantization pass 1
  * (sqlite-vector.c:1199-1255; its min/max comparisons never select NaN,
  * :1250-1255). One pass replaces the filter + array_min + array_max
  * chain that traversed every array twice. NULL when no valid lane.
  */
case class ArrayMinMax(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("mn", DoubleType, nullable = false),
    StructField("mx", DoubleType, nullable = false)))
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def nullable: Boolean = true
  override def prettyName: String = "array_min_max"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var any = false
    var i = 0
    while (i < n) {
      // fail fast: a NULL lane would silently read as 0.0 through getFloat
      // and corrupt the global quantization extrema
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"array_min_max: NULL lane at index $i (vectors must be dense)")
      val x = arr.getFloat(i).toDouble
      if (!x.isNaN) { if (x < mn) mn = x; if (x > mx) mx = x; any = true }
      i += 1
    }
    if (!any) null else InternalRow(mn, mx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val mn = ctx.freshName("mn"); val mx = ctx.freshName("mx")
      val any = ctx.freshName("any"); val x = ctx.freshName("x")
      s"""
         |int $n = $c.numElements();
         |double $mn = Double.POSITIVE_INFINITY, $mx = Double.NEGATIVE_INFINITY;
         |boolean $any = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($c.isNullAt($i)) throw new IllegalArgumentException(
         |    "array_min_max: NULL lane at index " + $i + " (vectors must be dense)");
         |  double $x = (double) $c.getFloat($i);
         |  if (!Double.isNaN($x)) {
         |    if ($x < $mn) $mn = $x;
         |    if ($x > $mx) $mx = $x;
         |    $any = true;
         |  }
         |}
         |if (!$any) { ${ev.isNull} = true; } else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{$mn, $mx});
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `vector_as_f32` family (sqlite-vector.c:1655-1719): accepts a JSON
  * text array (tolerant parser, trailing comma OK — :1528-1653) or a packed
  * BLOB (size-checked pass-through — :1663-1675) and yields the canonical
  * `array<float>`. `target` selects the i8/u8 range checks (:1601-1615) and
  * the round-trip precision (f16/bf16 values pass through their 16-bit
  * representation like the reference's packing does).
  */
case class ToVector(child: Expression, target: ElemType, expectDim: Int = -1)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = s"vector_as_${target.name.toLowerCase}"

  override def nullSafeEval(v: Any): Any =
    VectorCodec.toVectorJ(v.asInstanceOf[AnyRef], target, expectDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etRef = ctx.addReferenceObj("elemType", target, classOf[ElemType].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.codec.VectorCodec.toVectorJ($c, $etRef, $expectDim);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pcm_stats(payload)` — REAL 16-bit PCM sample decode of a RIFF/WAVE
  * binary column folded to exact integer statistics
  * ([[graft.ops.MediaCodec.pcmStats]]): struct(n_samples, sum_abs,
  * max_abs, zero_cross). NULL for payloads that aren't PCM16 WAV. The
  * decode runs as one static call inside whole-stage codegen.
  */
case class PcmStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("max_abs", LongType, nullable = false),
    StructField("zero_cross", LongType, nullable = false)))
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = "pcm_stats"

  override def nullSafeEval(v: Any): Any =
    graft.ops.MediaCodec.pcmStatsRow(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.ops.MediaCodec.pcmStatsRow($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `png_pixel_stats(payload)` — REAL PNG pixel decode (zlib inflate + all
  * five scanline filters, [[graft.ops.MediaCodec.pngPixelStats]]) folded
  * to exact per-channel integer sums: struct(width, height, channels,
  * sum_r, sum_g, sum_b, max_px). NULL for undecodable payloads.
  */
case class PngPixelStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("max_px", LongType, nullable = false)))
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = "png_pixel_stats"

  override def nullSafeEval(v: Any): Any =
    graft.ops.MediaCodec.pngPixelStatsRow(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.ops.MediaCodec.pngPixelStatsRow($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `jpeg_luma_stats(payload)` — REAL baseline-JPEG decode (Huffman +
  * dequant + islow IDCT, luma plane only — [[graft.ops.Jpeg.decodeLuma]])
  * folded to exact integer stats: struct(width, height, sum_luma,
  * max_luma). NULL for undecodable / out-of-profile payloads.
  */
case class JpegLumaStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("sum_luma", LongType, nullable = false),
    StructField("max_luma", LongType, nullable = false)))
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = "jpeg_luma_stats"

  override def nullSafeEval(v: Any): Any =
    graft.ops.Jpeg.jpegLumaStatsRow(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.ops.Jpeg.jpegLumaStatsRow($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `jpeg_dhash(payload)` — the [[PngDhashExpr]] contract over decoded
  * JPEG luma ([[graft.ops.Jpeg.jpegDhash63]]): PNG and JPEG variants of
  * an image hash into ONE perceptual space. NULL when undecodable or the
  * 9×8 pool does not divide the dimensions.
  */
case class JpegDhashExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = "jpeg_dhash"

  override def nullSafeEval(v: Any): Any = {
    val r = graft.ops.Jpeg.jpegDhashBoxed(v.asInstanceOf[Array[Byte]])
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Long $r = graft.ops.Jpeg.jpegDhashBoxed($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `warc_records_gz(blob)` — byte-exact WARC record extraction over a
  * `.warc.gz` binary column (per-record gzip members, Content-Length in
  * BYTES — [[graft.ops.Warc.gzRecordRows]]). Codegen'd static call; NULL
  * for payloads that are not gzip at all; lenient tail inside.
  */
case class WarcRecordsGzExpr(child: Expression, maxRecords: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("warc_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", StringType, nullable = false))), containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = "warc_records_gz"

  override def nullSafeEval(v: Any): Any =
    graft.ops.Warc.gzRecordRows(v.asInstanceOf[Array[Byte]], maxRecords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.ops.Warc.gzRecordRows($c, $maxRecords);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bpe_merge(syms, 'a', 'b')` — one byte-pair-encoding merge round:
  * every non-overlapping (a, b) adjacency in the symbol array becomes the
  * concatenated symbol, greedy left-to-right on the original sequence
  * ([[graft.kernels.Sketches.bpeMerge]]). Codegen'd static call; NULL
  * array → NULL.
  */
case class BpeMerge(child: Expression, a: String, b: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def prettyName: String = "bpe_merge"

  @transient private lazy val aU = UTF8String.fromString(a)
  @transient private lazy val bU = UTF8String.fromString(b)

  override def nullSafeEval(v: Any): Any =
    Sketches.bpeMerge(v.asInstanceOf[ArrayData], aU, bU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("bpeA", aU, "org.apache.spark.unsafe.types.UTF8String")
    val bRef = ctx.addReferenceObj("bpeB", bU, "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.bpeMerge($c, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `fast_round(x)` — decimal HALF_UP rounding of a double at a fixed
  * scale, result-identical to Spark's `round(x, scale)` (and to the
  * DuckDB `round` the oracles use) but without its per-row cost: Spark's
  * `Round` on DoubleType emits `BigDecimal.valueOf(x).setScale(...)`,
  * and `BigDecimal.valueOf` goes through `Double.toString` — a string
  * render per evaluated value, which dominates pair-dense plans (the ANN
  * join and the Jaccard verify round one value per CANDIDATE PAIR).
  *
  * Fast path: `floor(x·10^s + 0.5) / 10^s` in pure double math. That
  * agrees with the BigDecimal decision whenever `x·10^s` is farther from
  * a .5 boundary than the product/shortest-repr-decimal discrepancy —
  * which is a few ulps of the product, NOT an absolute constant: above
  * ~2^33 one ulp of `x·10^s` exceeds 1e-6, so a fixed guard would let
  * the discrepancy cross a boundary undetected. The guard therefore
  * scales with the magnitude: any value within `max(1e-6, 4·ulp(x·10^s))`
  * of a boundary — plus NaN/±Inf and magnitudes ≥ 4.5e15 where doubles
  * go integer-sparse — takes the exact
  * [[graft.kernels.Quantize.roundHalfUp]] fallback instead. ~2e-6 of
  * uniformly distributed small inputs fall back (the ulp term dominates
  * only above ~8.6e9 where it admits ~2e-15 of inputs); equality with
  * Spark's round is property-tested on boundary-adversarial inputs in
  * BOTH bands (KernelProps).
  */
case class FastRound(child: Expression, scale: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(scale >= 1 && scale <= 9, s"fast_round scale must be in [1,9], got $scale")

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def prettyName: String = "fast_round"

  private val pow10 = math.pow(10.0, scale)

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[Double]
    val y = x * pow10
    val diff = y - math.floor(y)
    if (!(math.abs(diff - 0.5) >= math.max(1e-6, 4.0 * math.ulp(y))) || math.abs(y) >= 4.5e15)
      Quantize.roundHalfUp(x, scale)
    else math.floor(y + 0.5) / pow10
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val y = ctx.freshName("y"); val diff = ctx.freshName("diff")
      val guard = ctx.freshName("guard")
      // NB: no generated line may BEGIN with '|' (a downstream stripMargin
      // pass would eat it) — keep each condition on one line
      s"""
         |double $y = $c * ${pow10}d;
         |double $diff = $y - java.lang.Math.floor($y);
         |double $guard = java.lang.Math.max(1.0e-6d, 4.0d * java.lang.Math.ulp($y));
         |if (!(java.lang.Math.abs($diff - 0.5d) >= $guard) || java.lang.Math.abs($y) >= 4.5e15d) {
         |  ${ev.value} = graft.kernels.Quantize.roundHalfUp($c, $scale);
         |} else {
         |  ${ev.value} = java.lang.Math.floor($y + 0.5d) / ${pow10}d;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `cdc_boundaries(text)` — content-defined-chunking boundary positions
  * (1-based ends of `window`-char trailing windows whose polynomial hash
  * is ≡ 0 mod `divisor`), the hot inner scan of
  * [[graft.ops.Curation.cdcChunks]] as ONE codegen'd pass over the
  * string bytes. Replaces a per-position higher-order-function fold that
  * allocated a sequence per character (measured 10× the whole query's
  * budget at sf0.1). Input must be printable-ASCII-cleaned so bytes are
  * chars ([[graft.ops.TextAnalysis.asciiOnly]]).
  */
case class CdcBoundaries(child: Expression, window: Int, divisor: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(window >= 2, s"window must be >= 2, got $window")
  require(divisor >= 2, s"divisor must be >= 2, got $divisor")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "cdc_boundaries"

  override def nullSafeEval(v: Any): Any =
    Sketches.cdcBoundaries(v.asInstanceOf[UTF8String], window, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Sketches.cdcBoundaries($c, $window, $divisor);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `centered_dot(vec)` — ⟨x−μ, v⟩ against constant (μ, v) vectors as ONE
  * codegen'd sequential fold (index order, the oracle's
  * `list_sum(list_transform(...))` tree), replacing the interpreted
  * per-lane `aggregate` HOF in the PCA / all-but-the-top scans. The
  * constant vectors ride as reference objects, not literals — no
  * 64-element expression tree to compile per round.
  */
case class CenteredDot(child: Expression, mu: Array[Double], v: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  require(mu.length == v.length, s"mu/v length mismatch: ${mu.length} vs ${v.length}")

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def prettyName: String = "centered_dot"

  override def nullSafeEval(value: Any): Any =
    graft.kernels.Embed.centeredDot(
      value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], mu, v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("mu", mu, "double[]")
    val vRef = ctx.addReferenceObj("v", v, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Embed.centeredDot($c, $muRef, $vRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pca_lane_terms(vec)` — the per-row PCA contribution vector
  * `round9((x_i−μ_i)·⟨x−μ, v⟩)` in one codegen'd pass: the dot and all
  * dim lane terms share a single traversal, and the 9-dp HALF_UP
  * rounding is exactly Spark `round`'s BigDecimal semantics
  * ([[graft.kernels.Quantize.roundHalfUp]]), so the plan change cannot
  * move a single ulp — the pca gates' hash equality is the proof.
  */
case class PcaLaneTerms(child: Expression, mu: Array[Double], v: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  require(mu.length == v.length, s"mu/v length mismatch: ${mu.length} vs ${v.length}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def prettyName: String = "pca_lane_terms"

  override def nullSafeEval(value: Any): Any =
    graft.kernels.Embed.pcaLaneTerms(
      value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], mu, v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("mu", mu, "double[]")
    val vRef = ctx.addReferenceObj("v", v, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.kernels.Embed.pcaLaneTerms($c, $muRef, $vRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `png_dhash(blob)` — 63-bit perceptual difference hash over REAL
  * decoded PNG pixels ([[graft.ops.MediaCodec.pngDhash63]]): decode →
  * integer luma → 9×8 floor-mean pool → adjacent-pool comparison bits.
  * NULL for undecodable blobs or dimensions not divisible into the
  * pool grid. Codegen'd static call, one pass per row.
  */
case class PngDhashExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = "png_dhash"

  override def nullSafeEval(v: Any): Any =
    graft.ops.MediaCodec.pngDhashBoxed(v.asInstanceOf[Array[Byte]]) match {
      case null => null
      case boxed => boxed.longValue()
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Long $r = graft.ops.MediaCodec.pngDhashBoxed($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pcm_fingerprint(blob, window)` — energy-envelope audio fingerprint
  * over REAL decoded PCM16
  * ([[graft.ops.MediaCodec.pcmEnergyFingerprint]]): per-frame energy,
  * interior peak constellation, polynomial fold. NULL when the payload
  * isn't decodable PCM16.
  */
case class PcmFingerprintExpr(child: Expression, window: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(window >= 1, s"window must be >= 1, got $window")

  override def dataType: DataType = StructType(Seq(
    StructField("n_windows", LongType, nullable = false),
    StructField("n_peaks", LongType, nullable = false),
    StructField("fingerprint", LongType, nullable = false)))
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = "pcm_fingerprint"

  override def nullSafeEval(v: Any): Any =
    graft.ops.MediaCodec.pcmEnergyFingerprintRow(v.asInstanceOf[Array[Byte]], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.ops.MediaCodec.pcmEnergyFingerprintRow($c, $window);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `media_probe(payload, declared_type)` — container-header metadata for a
  * multimodal binary column ([[graft.ops.MediaCodec.probe]]): magic-byte
  * detection + real PNG/JPEG/GIF/WAV header parse →
  * struct(media_type, width, height, n_frames, byte_len); unknown
  * containers fall back to the declared type with zero dimensions. One
  * static call inside whole-stage codegen — the corpus-wide metadata pass
  * never leaves the columnar batch. NULL if either input is NULL
  * (callers wanting a default for a null declared type coalesce it, as
  * [[graft.ops.Multimodal.withMetadata]] does).
  */
case class MediaProbeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("media_type", StringType, nullable = true),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("byte_len", LongType, nullable = false)))
  override def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)
  override def nullable: Boolean = true
  override def prettyName: String = "media_probe"

  override def nullSafeEval(payload: Any, declared: Any): Any =
    graft.ops.MediaCodec.probeRow(
      payload.asInstanceOf[Array[Byte]], declared.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, d) =>
      s"${ev.value} = graft.ops.MediaCodec.probeRow($p, $d);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `gif_frames(blob)` — REAL GIF block-structure walk
  * ([[graft.ops.MediaCodec.gifFrameStats]]): frame count + total
  * animation delay (centiseconds) from image descriptors and Graphic
  * Control Extensions, no LZW decode. NULL for malformed payloads.
  */
case class GifFramesExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("n_frames", LongType, nullable = false),
    StructField("total_delay_cs", LongType, nullable = false)))
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = "gif_frames"

  override def nullSafeEval(v: Any): Any =
    graft.ops.MediaCodec.gifFrameStatsRow(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.ops.MediaCodec.gifFrameStatsRow($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
