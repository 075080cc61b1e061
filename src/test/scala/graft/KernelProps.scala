package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.codec.VectorCodec
import graft.kernels.{Distances, Quantize, Sketches}

/** Property-based invariants for the pure kernel layer (no Spark session).
  */
object KernelProps extends Properties("kernels") {

  private val finiteFloat: Gen[Float] =
    Gen.chooseNum(-1e4f, 1e4f).map(f => if (f.isNaN) 0f else f)
  private val vec: Gen[Array[Float]] =
    Gen.chooseNum(1, 96).flatMap(n => Gen.containerOfN[Array, Float](n, finiteFloat))

  property("DistinctTopK: partition-split invariant, exact kept set, exact capped flag") =
    forAll(Gen.chooseNum(1, 12), Gen.listOf(Gen.chooseNum(0, 40)), Gen.long) {
      (k, xs0, seed) =>
        val vals = xs0.map(i => s"v$i")
        val pairs = vals.map(v => ((v.hashCode & 0x7fffffff).toDouble, v))
        // expected: distinct pairs, smallest k by (priority, value)
        val distinct = pairs.distinct.sorted
        val expectKept = distinct.take(k).map(_._2)
        val expectCapped = distinct.size > k
        // fold through a random 3-way partition split + merges
        val rnd = new scala.util.Random(seed)
        val parts = Array.fill(3)(new graft.expressions.DistinctTopK(k))
        pairs.foreach { case (p, v) => parts(rnd.nextInt(3)).insert(p, v) }
        val merged = parts.reduce { (a, b) =>
          b.set.foreach { case (p, v) => a.insert(p, v) }
          if (b.capped) a.capped = true
          a
        }
        merged.set.toSeq.map(_._2) == expectKept && merged.capped == expectCapped
    }

  // valid Unicode strings spanning the three ranges where UTF-16 and
  // UTF-8 byte order can disagree: BMP below surrogates, BMP above
  // (U+E000..), and supplementary code points (surrogate pairs)
  private val uniCodePoint: Gen[Int] = Gen.oneOf(
    Gen.chooseNum(0x20, 0xD7FF), Gen.chooseNum(0xE000, 0xFFFD),
    Gen.chooseNum(0x10000, 0x10FFFF))
  private val uniCpStr: Gen[String] = Gen.listOf(uniCodePoint)
    .map(_.flatMap(Character.toChars(_)).mkString)

  property("DistinctTopK.compareUtf8Order sign-agrees with UTF8String.compareTo") =
    forAll(uniCpStr, uniCpStr) { (x, y) =>
      import org.apache.spark.unsafe.types.UTF8String
      val fast = graft.expressions.DistinctTopK.compareUtf8Order(x, y)
      val ref = UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      Integer.signum(fast) == Integer.signum(ref)
    }

  property("sortedIntersectCount == set intersection size") =
    forAll { (a0: List[Long], b0: List[Long]) =>
      val a = a0.distinct.sorted.toArray
      val b = b0.distinct.sorted.toArray
      Sketches.sortedIntersectCount(new GenericArrayData(a), new GenericArrayData(b)) ==
        a.toSet.intersect(b.toSet).size.toLong
    }

  property("minhash signature is set-order invariant") =
    forAll { (xs: List[Long], seed: Long) =>
      val distinct = xs.distinct
      val shuffled = new scala.util.Random(seed).shuffle(distinct)
      val s1 = Sketches.minhash(new GenericArrayData(distinct.toArray), 64)
      val s2 = Sketches.minhash(new GenericArrayData(shuffled.toArray), 64)
      (0 until 64).forall(i => s1.getLong(i) == s2.getLong(i))
    }

  property("quantize round-trip error <= half a step inside the range") =
    forAll(Gen.nonEmptyListOf(finiteFloat)) { xs =>
      val mn = xs.min.toDouble; val mx = xs.max.toDouble
      val p = Quantize.params(QType.Auto, mn, mx, hasNegative = mn < 0, rows = xs.length.toLong)
      Prop.all(xs.map { x =>
        val code = Quantize.code(x.toDouble, p)
        val decoded = code.toDouble / p.scale + p.offset
        Prop(math.abs(decoded - x.toDouble) <= 0.5 / p.scale + 1e-9) :|
          s"x=$x code=$code decoded=$decoded scale=${p.scale} offset=${p.offset}"
      }: _*)
    }

  property("JSON parse of rendered float array is the identity") =
    forAll(vec) { v =>
      VectorCodec.parseJson(v.mkString("[", ",", "]")).sameElements(v)
    }

  property("pack/unpack identity for f32; width contract for all types") =
    forAll(vec) { v =>
      val f32 = VectorCodec.unpack(VectorCodec.pack(v, ElemType.F32), ElemType.F32).sameElements(v)
      val widths = ElemType.all.forall(et =>
        VectorCodec.pack(v, et).length == v.length * et.bytesPerElem)
      f32 && widths
    }

  property("packed distance is symmetric for symmetric metrics (all types)") =
    forAll(vec, vec) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      // keep i8/u8 in their integral domains
      def shrink(v: Array[Float], signed: Boolean): Array[Float] =
        v.map(x => if (signed) (x % 127).toInt.toFloat else math.abs(x % 255).toInt.toFloat)
      Prop.all(
        (for {
          et <- ElemType.all
          m <- Seq(Metric.L2, Metric.SquaredL2, Metric.L1, Metric.Dot, Metric.Cosine)
        } yield {
          val (fa, fb) = et match {
            case ElemType.I8 => (shrink(a, signed = true), shrink(b, signed = true))
            case ElemType.U8 => (shrink(a, signed = false), shrink(b, signed = false))
            case _           => (a, b)
          }
          val pa = VectorCodec.pack(fa, et); val pb = VectorCodec.pack(fb, et)
          val d1 = Distances.onPacked(m, et)(pa, pb)
          val d2 = Distances.onPacked(m, et)(pb, pa)
          Prop(d1 == d2 || (d1.isNaN && d2.isNaN)) :| s"$m $et: $d1 vs $d2"
        }): _*)
    }

  property("code kernel at offsets: exact integer sums over the selected lanes") =
    forAll(Gen.listOf(Gen.chooseNum(-128, 127)), Gen.listOf(Gen.chooseNum(-128, 127)),
      Gen.chooseNum(0, 5), Gen.chooseNum(0, 5), Gen.oneOf(true, false)) { (xs, ys, aOff, bOff, signed) =>
      val a = xs.map(_.toByte).toArray; val b = ys.map(_.toByte).toArray
      val n = math.max(0, math.min(a.length - aOff, b.length - bOff))
      def lane(arr: Array[Byte], i: Int): Long = if (signed) arr(i).toLong else (arr(i) & 0xff).toLong
      val pairs = (0 until n).map(i => (lane(a, aOff + i), lane(b, bOff + i)))
      val sq = pairs.map { case (x, y) => (x - y) * (x - y) }.sum
      val (dot, na, nb) = (pairs.map(p => p._1 * p._2).sum, pairs.map(p => p._1 * p._1).sum,
        pairs.map(p => p._2 * p._2).sum)
      val cos = if (na == 0 || nb == 0) 1.0
        else 1.0 - math.max(-1.0, math.min(1.0, dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))))
      val want = Map[Metric, Double](Metric.L2 -> math.sqrt(sq.toDouble), Metric.SquaredL2 -> sq.toDouble,
        Metric.Cosine -> cos, Metric.Dot -> (-dot).toDouble,
        Metric.L1 -> pairs.map { case (x, y) => math.abs(x - y) }.sum.toDouble)
      Prop.all(Metric.all.map { m =>
        val got = Distances.codeDistance(Distances.metricId(m), signed, a, aOff, b, bOff, n)
        Prop(got == want(m) && !(got == 0.0 && 1.0 / got < 0)) :| s"$m signed=$signed: $got vs ${want(m)}"
      }: _*)
    }

  property("packed f32 kernels equal the Array[Float] kernels bit-for-bit") =
    forAll(vec, vec) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      val pa = VectorCodec.pack(a, ElemType.F32)
      val pb = VectorCodec.pack(b, ElemType.F32)
      Distances.onPacked(Metric.SquaredL2, ElemType.F32)(pa, pb) == Distances.sqL2F32(a, b) &&
      Distances.onPacked(Metric.Dot, ElemType.F32)(pa, pb) == Distances.dotF32(a, b) &&
      Distances.onPacked(Metric.L1, ElemType.F32)(pa, pb) == Distances.l1F32(a, b) &&
      Distances.onPacked(Metric.L2, ElemType.F32)(pa, pb) == Distances.l2F32(a, b) &&
      Distances.onPacked(Metric.Cosine, ElemType.F32)(pa, pb) == Distances.cosineF32(a, b)
    }

  property("double kernels: zero self-distance and triangle-direction sanity") =
    forAll(vec) { v =>
      Distances.sqL2Double(v, v) == 0.0 &&
        Distances.l1Double(v, v) == 0.0 &&
        (v.forall(_ == 0f) || Distances.cosineDouble(v, v) < 1e-9)
    }

  property("hyperplane signature flips all decided bits under negation") =
    forAll(vec, Gen.chooseNum(1, 16)) { (v, nBits) =>
      val planes = Sketches.planes(nBits, v.length, 42L)
      val s = Sketches.hyperplaneSig(v, planes)
      val sn = Sketches.hyperplaneSig(v.map(x => -x), planes)
      (s & sn) == 0L
    }

  // FastRound's fast path must agree with Spark's Round-on-double
  // semantics (BigDecimal.valueOf + HALF_UP) for every input, including
  // values engineered onto .5 decimal boundaries where the two paths
  // could plausibly split.
  private def sparkRound(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  private def fastRound(x: Double, scale: Int): Double =
    graft.expressions.FastRound(
      org.apache.spark.sql.catalyst.expressions.Literal(x), scale)
      .eval(null).asInstanceOf[Double]

  property("fast_round == Spark round on random doubles") =
    forAll(Gen.chooseNum(-1e12, 1e12), Gen.chooseNum(1, 9)) { (x: Double, s: Int) =>
      val a = fastRound(x, s); val b = sparkRound(x, s)
      (a == b) || (a.isNaN && b.isNaN)
    }

  property("fast_round == Spark round on decimal half boundaries") =
    forAll(Gen.chooseNum(-2000000L, 2000000L), Gen.chooseNum(1, 9)) { (k: Long, s: Int) =>
      // (k + 0.5) * 10^-s: the exact decimal half at scale s (as the
      // nearest double), plus one-ulp neighbors on either side
      val half = (k + 0.5) / math.pow(10.0, s)
      Prop.all(Seq(half, Math.nextUp(half), Math.nextDown(half),
          k / math.pow(10.0, s)).map { x =>
        val a = fastRound(x, s); val b = sparkRound(x, s)
        Prop(a == b) :| s"x=$x s=$s fast=$a spark=$b"
      }: _*)
    }

  property("fast_round == Spark round on LARGE-magnitude half boundaries") =
    // the [~2^33, 4.5e15) band where ulp(x·10^s) exceeds the old fixed
    // 1e-6 guard: the scaled product can sit within one ulp of a .5
    // boundary, so the fallback guard must widen with ulp(y). k+0.5
    // engineered as the nearest double to the decimal half at scale s.
    forAll(Gen.chooseNum(8L * 1000L * 1000L * 1000L, 450L * 1000L * 1000L * 1000L * 1000L),
        Gen.chooseNum(1, 9), Gen.oneOf(true, false)) { (k0: Long, s: Int, neg: Boolean) =>
      val k = if (neg) -k0 else k0
      val half = (k + 0.5) / math.pow(10.0, s)
      Prop.all(Seq(half, Math.nextUp(half), Math.nextDown(half),
          k / math.pow(10.0, s)).map { x =>
        val a = fastRound(x, s); val b = sparkRound(x, s)
        Prop(a == b) :| s"x=$x s=$s fast=$a spark=$b"
      }: _*)
    }

  property("fast_round handles NaN/Inf/zero like Spark round") =
    Prop.all(Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        0.0, -0.0, 4.6e15, -4.6e15, 1e300, -1e300).map { x =>
      val a = fastRound(x, 6); val b = sparkRound(x, 6)
      Prop((a == b) || (a.isNaN && b.isNaN)) :| s"x=$x fast=$a spark=$b"
    }: _*)

  // NFC is a projection: applying it twice is the same as once (UAX #15
  // guarantees normalized forms are closed under re-normalization), and
  // canonically-equivalent inputs (decomposed vs composed) converge
  private def nfc(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
  private val uniChar: Gen[String] = Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("́", "̈", "é", "Å", "Å",
      "ᄀ", "ᅡ", "ᆨ", "가", " ", "ñ", "ñ"))
  private val uniStr: Gen[String] =
    Gen.listOf(uniChar).map(_.mkString)

  property("NFC normalization is idempotent") =
    forAll(uniStr) { s => nfc(nfc(s)) == nfc(s) }

  property("NFC collapses canonical equivalents (NFD(x) and x agree)") =
    forAll(uniStr) { s =>
      nfc(java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)) == nfc(s)
    }
}
