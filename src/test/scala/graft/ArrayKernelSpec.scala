package graft

import graft.functions.expressions.ArrayKernels
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.IntegerType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the array kernels (ArrayExpressions.scala) against
 * straightforward Scala reference implementations over random int arrays
 * WITH nulls — the PlanSpec equivalence test covers the SQL-HOF parity on
 * one shape; this covers the kernel semantics across arbitrary inputs
 * (empty arrays, all-null arrays, ragged tails, negative values). */
class ArrayKernelSpec extends AnyFunSuite {

  private val elems: Gen[Option[Int]] =
    Gen.frequency(9 -> Gen.chooseNum(-50000, 50000).map(Some(_)), 1 -> Gen.const(None))
  private val arrays: Gen[Vector[Option[Int]]] =
    Gen.chooseNum(0, 80).flatMap(n => Gen.containerOfN[Vector, Option[Int]](n, elems))
  private def data(v: Vector[Option[Int]]) =
    new GenericArrayData(v.map(_.map(Int.box).orNull).toArray[Any])

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, r.toString)
  }

  test("sums, counts, positions match the Scala reference on arbitrary null-bearing arrays") {
    check(Prop.forAll(arrays) { v =>
      val a = data(v)
      val present = v.flatten.map(_.toLong)
      ArrayKernels.sumLong(a, isInt = true) == present.sum &&
      ArrayKernels.nullCount(a) == v.count(_.isEmpty) &&
      ArrayKernels.firstDataPos(a) == (v.indexWhere(_.isDefined) match {
        case -1 => 0L
        case i => i + 1L
      }) &&
      ArrayKernels.posWeightedSum(a, isInt = true, base = 1L) ==
        v.zipWithIndex.collect { case (Some(x), i) => x.toLong * (i + 1) }.sum
    })
  }

  test("structural kernels (every-kth, repeat-each, chunk, blur) match the Scala reference") {
    val gen = for { v <- arrays; k <- Gen.chooseNum(1, 9) } yield (v, k)
    def elemsOf(a: org.apache.spark.sql.catalyst.util.ArrayData): Vector[Option[Int]] =
      (0 until a.numElements())
        .map(i => if (a.isNullAt(i)) None else Some(a.getInt(i)))
        .toVector
    check(Prop.forAll(gen) { case (v, k) =>
      val a = data(v)
      elemsOf(ArrayKernels.everyKth(a, k, IntegerType)) ==
        v.zipWithIndex.collect { case (x, i) if i % k == 0 => x } &&
      elemsOf(ArrayKernels.repeatEach(a, k, IntegerType)) ==
        v.flatMap(x => Vector.fill(k)(x)) &&
      ArrayKernels
        .chunk(a, k, IntegerType)
        .array
        .toVector
        .map(c => elemsOf(c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])) ==
        v.grouped(k).toVector
    })
  }

  test("blur4 + every-kth matches the clamped [1,2,1] reference on non-null arrays") {
    val gen = for {
      n <- Gen.chooseNum(0, 80)
      v <- Gen.containerOfN[Vector, Int](n, Gen.chooseNum(-50000, 50000))
      k <- Gen.chooseNum(1, 9)
    } yield (v, k)
    check(Prop.forAll(gen) { case (v, k) =>
      val a = new GenericArrayData(v.map(Int.box).toArray[Any])
      val want = v.indices.collect {
        case i if i % k == 0 =>
          v(math.max(i - 1, 0)).toLong + 2L * v(i) + v(math.min(i + 1, v.size - 1))
      }.toVector
      val got = ArrayKernels.blur4EveryKth(a, k, isInt = true)
      (0 until got.numElements()).map(got.getLong).toVector == want
    })
  }

  test("metric kernels match the Scala reference (err sums, seasonal, interval penalty)") {
    val gen = for {
      n <- Gen.chooseNum(0, 80)
      v <- Gen.containerOfN[Vector, Int](n, Gen.chooseNum(-50000, 50000))
      center <- Gen.chooseNum(-100.0, 100.0)
      m <- Gen.chooseNum(1, 30)
      lo <- Gen.chooseNum(-1000, 0)
      hi <- Gen.chooseNum(1, 1000)
    } yield (v, center, m, lo, hi)
    check(Prop.forAll(gen) { case (v, center, m, lo, hi) =>
      val a = new GenericArrayData(v.map(Int.box).toArray[Any])
      ArrayKernels.errQSum(a, isInt = true, center, 10000L) ==
        v.map { x => val d = x - center; math.floor(d * d * 10000 + 0.5).toLong }.sum &&
      ArrayKernels.seasonalAbsSum(a, isInt = true, m) ==
        (m until v.size).map(t => math.abs(v(t).toLong - v(t - m))).sum &&
      ArrayKernels.intervalPenaltySum(a, isInt = true, lo, hi, 40L) ==
        v.map { y =>
          (hi.toLong - lo) +
            (if (y < lo) 40L * (lo - y) else 0L) +
            (if (y > hi) 40L * (y - hi) else 0L)
        }.sum
    })
  }

  test("affine-mod sequence matches the token formula; quantized sums match") {
    val gen = for {
      d <- Gen.chooseNum(0L, 5000000L)
      n <- Gen.chooseNum(0, 300)
    } yield (d, n)
    check(Prop.forAll(gen) { case (d, n) =>
      val got = ArrayKernels.affineModSeq(d, n, 2654435761L, 40503L, 50257L)
      (0 until got.numElements()).forall { p =>
        got.getInt(p) == (((d + 1) * 2654435761L + p * 40503L) % 50257L).toInt
      } && got.numElements() == n
    })
    // arr_sum_q / arr_abs_sum_q on double arrays
    val dgen = for {
      n <- Gen.chooseNum(0, 60)
      v <- Gen.containerOfN[Vector, Double](n, Gen.chooseNum(-500.0, 500.0))
    } yield v
    check(Prop.forAll(dgen) { v =>
      val a = new GenericArrayData(v.map(Double.box).toArray[Any])
      ArrayKernels.sumQuant(a, isFloat = false, 1000L) ==
        v.map(x => math.floor(x * 1000 + 0.5).toLong).sum &&
      ArrayKernels.absSumQuant(a, isFloat = false, 1000L) ==
        v.map(x => math.floor(math.abs(x) * 1000 + 0.5).toLong).sum
    })
  }

  test("arr_sum_mod and bin_frame_sample match the Scala reference") {
    check(Prop.forAll(arrays) { v =>
      val a = data(v)
      ArrayKernels.sumModLong(a, isInt = true, 1000000007L) ==
        v.flatten.map(x => x.toLong % 1000000007L).sum
    })
    val bgen = for {
      n <- Gen.chooseNum(0, 600)
      bytes <- Gen.containerOfN[Array, Byte](n, Gen.chooseNum(-128, 127).map(_.toByte))
      fb <- Gen.chooseNum(1, 64)
      ev <- Gen.chooseNum(1, 5)
    } yield (bytes, fb, ev)
    check(Prop.forAll(bgen) { case (bytes, fb, ev) =>
      val out = ArrayKernels.frameSample(bytes, fb, ev)
      val expected = bytes.grouped(fb).zipWithIndex.collect {
        case (chunk, i) if i % ev == 0 => (i, chunk.toSeq)
      }.toVector
      val got = (0 until out.numElements()).map { k =>
        val row = out.getStruct(k, 2)
        (row.getInt(0), row.getBinary(1).toSeq)
      }.toVector
      got == expected
    })
  }

  test("zscore outlier counts match a per-chunk Scala reference; ewma_half matches a fold") {
    import graft.functions.expressions.ArrayKernels
    val gen = for {
      n <- Gen.chooseNum(0, 300)
      // narrow value range plus occasional spikes so outliers exist
      xs <- Gen.containerOfN[Vector, Int](
        n,
        Gen.frequency(9 -> Gen.chooseNum(100, 110), 1 -> Gen.chooseNum(0, 5000)))
      k <- Gen.chooseNum(1, 80)
    } yield (xs, k)
    check(Prop.forAll(gen) { case (xs, k) =>
      val a = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
      val got = ArrayKernels.zscoreOutliers(a, k, 2.0)
      val want = xs.grouped(k).map { chunk =>
        val cnt = chunk.size.toLong
        if (cnt <= 1) 0
        else {
          val sum = chunk.map(_.toLong).sum
          val sumsq = chunk.map(x => x.toLong * x).sum
          val mean = sum.toDouble / cnt.toDouble
          val v =
            (sumsq.toDouble - sum.toDouble * sum.toDouble / cnt.toDouble) /
              (cnt - 1).toDouble
          if (v <= 0) 0
          else chunk.count(x => math.abs(x.toDouble - mean) > 2.0 * math.sqrt(v))
        }
      }.toVector
      (0 until got.numElements()).map(got.getInt).toVector == want
    })
    check(Prop.forAll(gen) { case (xs, _) =>
      if (xs.isEmpty)
        intercept[IllegalArgumentException](
          ArrayKernels.ewmaHalf(UnsafeArrayData.fromPrimitiveArray(xs.toArray))) != null
      else {
        val got = ArrayKernels.ewmaHalf(UnsafeArrayData.fromPrimitiveArray(xs.toArray))
        val want = xs.tail.foldLeft(xs.head.toDouble)((s, x) => (s + x) / 2.0)
        // bit equality, not approx — the kernel IS the fold
        java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want)
      }
    })
    // null element: loud failure, not silent skip
    intercept[IllegalArgumentException] {
      ArrayKernels.ewmaHalf(new GenericArrayData(Array[Any](1, null, 3)))
    }
  }

  test("ngram_rep_stats matches the string-n-gram multiset reference") {
    import graft.functions.expressions.DedupKernels
    import org.apache.spark.unsafe.types.UTF8String
    // small vocab so repeats actually occur; empty words exercise the
    // split(-1) parity of the contiguous-range hashing
    val textGen = for {
      n <- Gen.chooseNum(0, 40)
      ws <- Gen.containerOfN[Vector, String](
        n,
        Gen.frequency(
          8 -> Gen.oneOf("aa", "bb", "cc", "dd", "e"),
          1 -> Gen.const(""),
          1 -> Gen.chooseNum(0, 999).map(x => "w" + x)))
    } yield ws.mkString(" ")
    def ref(text: String, n: Int): (Int, Int, Int) = {
      val ws = text.split(" ", -1)
      val grams = (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" "))
      val counts = grams.groupBy(identity).map(_._2.size)
      (grams.size, if (counts.isEmpty) 0 else counts.max, counts.filter(_ >= 2).sum)
    }
    check(Prop.forAll(textGen, Gen.chooseNum(1, 4)) { (text, n) =>
      val got = DedupKernels.ngramRepStats(UTF8String.fromString(text), n)
      (got.getInt(0), got.getInt(1), got.getInt(2)) == ref(text, n)
    })
  }

  test("dedup kernels match the pre-kernel Scala reference (shingle/sig/band/intersect)") {
    import graft.functions.expressions.DedupKernels
    import org.apache.spark.unsafe.types.UTF8String
    // words with empty tokens (consecutive/trailing spaces) included —
    // split(-1) parity is the subtle part of the contiguous-range hashing
    val textGen = for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.containerOfN[Vector, String](
        n,
        Gen.frequency(
          9 -> Gen.chooseNum(0, 99999).map(x => "w" + x.toHexString),
          1 -> Gen.const("")))
    } yield ws.mkString(" ")
    def refShingles(text: String, n: Int): Vector[Long] = {
      val ws = text.split(" ", -1)
      (0 to ws.length - n).map { i =>
        var h = 0xcbf29ce484222325L
        (0 until n).foreach { k =>
          if (k > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
          ws(i + k).foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
        }
        h
      }.toVector.distinct.sorted
    }
    check(Prop.forAll(textGen) { text =>
      val got = DedupKernels.shingleFnv(UTF8String.fromString(text), 3)
      (0 until got.numElements()).map(got.getLong).toVector == refShingles(text, 3)
    })
    val hsGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.containerOfN[Vector, Long](n, Gen.chooseNum(Long.MinValue, Long.MaxValue)))
    check(Prop.forAll(hsGen) { hs =>
      val a = new GenericArrayData(hs.map(Long.box).toArray[Any])
      val sig = DedupKernels.minhashSig(a, 16)
      val refSig = (0 until 16).map { i =>
        val perms = hs.map(h => graft.core.Hash.mix64(h ^ (i * 0x9e3779b97f4a7c15L)))
        if (perms.isEmpty) Long.MaxValue else perms.min
      }
      (0 until 16).map(sig.getLong) == refSig && {
        val bands = DedupKernels.lshBands(sig, 4)
        val refBands = (0 until 4).map { b =>
          var h = graft.core.Hash.mix64(0x9e3779b97f4a7c15L * (b + 1))
          (0 until 4).foreach(r => h = graft.core.Hash.mix64(h ^ sig.getLong(b * 4 + r)))
          h
        }
        (0 until 4).map(bands.getLong) == refBands
      }
    })
    val pairGen = for {
      a <- Gen.containerOfN[Vector, Long](30, Gen.chooseNum(-100L, 100L))
      b <- Gen.containerOfN[Vector, Long](30, Gen.chooseNum(-100L, 100L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    check(Prop.forAll(pairGen) { case (a, b) =>
      val ad = new GenericArrayData(a.map(Long.box).toArray[Any])
      val bd = new GenericArrayData(b.map(Long.box).toArray[Any])
      DedupKernels.sortedInterSize(ad, bd) == a.toSet.intersect(b.toSet).size
    })
    // arr_pairs == the self-join's (a < b) pair set, ascending
    val idsGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.containerOfN[Vector, Long](n, Gen.chooseNum(0L, 1000L)).map(_.distinct))
    check(Prop.forAll(idsGen) { ids =>
      val a = new GenericArrayData(ids.map(Long.box).toArray[Any])
      val out = DedupKernels.pairs(a)
      val got = (0 until out.numElements()).map { k =>
        val r = out.getStruct(k, 2); (r.getLong(0), r.getLong(1))
      }.toSet
      val want = (for { x <- ids; y <- ids if x < y } yield (x, y)).toSet
      got == want && out.numElements() == want.size
    })
  }

  test("lsh_sig_affine matches the Lehmer-weight Scala reference and spreads buckets") {
    import graft.functions.expressions.VectorKernels
    val vecs: Gen[Vector[Float]] = Gen
      .chooseNum(1, 64)
      .flatMap(n =>
        Gen.containerOfN[Vector, Float](
          n, Gen.chooseNum(-4.0, 4.0).map(_.toFloat)))
    def reference(v: Vector[Float], nPlanes: Int): Long =
      (0 until nPlanes).foldLeft(0L) { (acc, p) =>
        val s = v.indices.map { d =>
          val k = p.toLong * 1024L + d
          val h1 = (k * 1103515245L + 12345L) % 2147483647L
          val h2 = (h1 * 1103515245L + 54321L) % 2147483647L
          val w = h2 % 7L - 3L
          math.floor(v(d).toDouble * 1000.0 + 0.5).toLong * w
        }.sum
        acc * 2L + (if (s >= 0L) 1L else 0L)
      }
    check(Prop.forAll(vecs, Gen.chooseNum(1, 16)) { (v, nPlanes) =>
      val a = new GenericArrayData(v.map(Float.box).toArray[Any])
      VectorKernels.lshSigAffineData(a, isFloat = true, nPlanes) ==
        reference(v, nPlanes)
    })
    // mixing sanity: the two-Lehmer weights must not collapse to a
    // period-7 comb — 256 FULL-dimensional random vectors should land in
    // many of the 256 possible 8-bit buckets (expected ~162 distinct for
    // uniform bucketing; a comb collapses to a handful). NB shifted-sine
    // vectors would be the wrong probe here: they span only the 2-D
    // {sin(d), cos(d)} subspace, where 8 hyperplanes cut at most 16 cells.
    val buckets = (0 until 256).map { i =>
      val rnd = new scala.util.Random(i)
      val v = Vector.fill(32)((rnd.nextDouble() * 8.0 - 4.0).toFloat)
      VectorKernels.lshSigAffineData(
        new GenericArrayData(v.map(Float.box).toArray[Any]), isFloat = true, 8)
    }.distinct
    assert(buckets.size > 64, s"poor bucket spread: ${buckets.size} distinct of 256")
  }

  test("simhash_affine matches a split-based Scala reference; no-word docs return -1") {
    import graft.functions.expressions.DedupKernels
    import org.apache.spark.unsafe.types.UTF8String
    val P = 1000000007L
    def ref(text: String, nBits: Int): Long = {
      val words = text.split(" ", -1).filter(_.nonEmpty)
      if (words.isEmpty) return -1L
      val acc = new Array[Long](nBits)
      for (w <- words) {
        val h = w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
        for (b <- 0 until nBits)
          acc(b) += (if (((h * 1103515245L + b * 12345L + 6789L) % P) * 2 >= P) 1L else -1L)
      }
      (0 until nBits).foldLeft(0L)((m, b) => if (acc(b) >= 0) m | (1L << b) else m)
    }
    val wordGen = Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val textGen = Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    check(Prop.forAll(textGen, Gen.chooseNum(1, 62)) { (text, nBits) =>
      DedupKernels.simhashAffine(UTF8String.fromString(text), nBits) == ref(text, nBits)
    })
    assert(DedupKernels.simhashAffine(UTF8String.fromString(""), 16) == -1L)
    assert(DedupKernels.simhashAffine(UTF8String.fromString("   "), 16) == -1L)
  }

  test("minhash_affine matches a split-based Scala reference (empty words preserved)") {
    import graft.functions.expressions.DedupKernels
    import org.apache.spark.unsafe.types.UTF8String
    val P = 1000000007L
    def ref(text: String, n: Int, k: Int): Vector[Long] = {
      val ws = text.split(" ", -1) // empties preserved — the contiguous-range identity
      if (ws.length < n) return Vector.empty
      val sig = Array.fill(k)(Long.MaxValue)
      for (i <- 0 to ws.length - n) {
        val h = ws.slice(i, i + n).mkString(" ").foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
        for (s <- 0 until k)
          sig(s) = math.min(sig(s), (h * 1103515245L + s * 12345L + 6789L) % P)
      }
      sig.toVector
    }
    val wordGen = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val textGen = Gen.chooseNum(0, 20).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    check(Prop.forAll(textGen, Gen.chooseNum(1, 4), Gen.chooseNum(1, 16)) { (text, n, k) =>
      val got = DedupKernels.minhashAffine(UTF8String.fromString(text), n, k)
      (0 until got.numElements()).map(got.getLong).toVector == ref(text, n, k)
    })
  }

  test("eval_pinball_stats matches the pre-kernel SQL formulation (sort + element_at + quantized doubles)") {
    // the SQL shape this kernel replaced (q_eval_extra/q_eval_pinball
    // round-7): per window, sctx = array_sort(ctx); per horizon point y
    // and decile d, p = element_at(sctx, (ctx*d+9) DIV 10) and the
    // DOUBLE-arithmetic quantized term floor(pin*1e4 + 0.5); plus the
    // q_decile=1 accumulators (|y|, floor(|y-naive|*1e4+0.5), (y-med)^2).
    // The kernel must reproduce every sum bit-for-bit.
    val ctxN = 64
    val horN = 16
    val stride = 32
    def ref(tokens: Vector[Int]): Vector[(Vector[Long], Long, Long, Long, Long)] = {
      if (tokens.size < ctxN + horN) Vector.empty
      else (0 to (tokens.size - (ctxN + horN)) / stride).toVector.map { w =>
        val fs = ctxN + w * stride
        val ctx = tokens.slice(fs - ctxN, fs)
        val hor = tokens.slice(fs, fs + horN)
        val sctx = ctx.sorted
        val naive = ctx.map(_.toLong).sum.toDouble / ctxN.toDouble
        val med = sctx(ctxN / 2 - 1)
        val pin = (1 to 9).toVector.map { d =>
          val p = sctx((ctxN * d + 9) / 10 - 1)
          hor.map { y =>
            val t =
              if (y > p) (d.toDouble / 10.0) * (y - p).toDouble
              else (1.0 - d.toDouble / 10.0) * (p - y).toDouble
            math.floor(t * 10000 + 0.5).toLong
          }.sum
        }
        val say = hor.map(y => math.abs(y).toLong).sum
        val ndq = hor.map(y => math.floor(math.abs(y.toDouble - naive) * 10000 + 0.5).toLong).sum
        val medse = hor.map(y => (y - med).toLong * (y - med)).sum
        (pin, pin.sum, say, ndq, medse)
      }
    }
    val tokGen = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.containerOfN[Vector, Int](n, Gen.chooseNum(0, 50256)))
    check(Prop.forAll(tokGen) { v =>
      val a = new GenericArrayData(v.map(Int.box).toArray[Any])
      val got = ArrayKernels.evalPinballStats(a, isInt = true, ctxN, horN, stride)
      val rows = (0 until got.numElements()).map { i =>
        val st = got.getStruct(i, 5)
        val pin = st.getArray(0)
        (
          (0 until pin.numElements()).map(pin.getLong).toVector,
          st.getLong(1),
          st.getLong(2),
          st.getLong(3),
          st.getLong(4))
      }.toVector
      rows == ref(v)
    })
  }

  test("arr_pairs pair-bomb guard FIRES (before allocation) on an over-dense bucket") {
    import graft.functions.expressions.DedupKernels
    // a dense (but sane) bucket stays allowed — 1000 ids = 499,500 pairs
    val dense = new GenericArrayData(
      Array.tabulate(1000)(i => Long.box(i.toLong)).asInstanceOf[Array[Any]])
    assert(DedupKernels.pairs(dense).numElements() == 1000 * 999 / 2)
    // one past the ceiling: the require must fire with the diagnostic
    // message — NOT an OOM, NOT a NegativeArraySizeException (the old
    // 65536 bound overflowed Int pair counts from n = 46341 and would OOM
    // executors long before its own require could trigger)
    val overCap = new GenericArrayData(
      Array.tabulate(DedupKernels.MaxBucketIds + 1)(i => Long.box(i.toLong))
        .asInstanceOf[Array[Any]])
    val e = intercept[IllegalArgumentException](DedupKernels.pairs(overCap))
    assert(e.getMessage.contains("pair explosion"))
    assert(e.getMessage.contains((DedupKernels.MaxBucketIds + 1).toString))
  }
}
