package graft.functions.expressions

import graft.core.Hash
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Typed kernels for the MinHash/LSH dedup chain — the shingle, signature
 * and band stages as Catalyst expressions inside whole-stage codegen
 * ([[KernelCodegen]]), replacing the Dataset `map` formulation.
 *
 * Why: a typed Dataset map deserializes EVERY row into Scala objects
 * (tuples, boxed fields, a copied String) and re-serializes the result —
 * at 16 threads x millions of docs the encoder round-trip garbage
 * dominated GC (stage probe: 14 s of GC in a 41 s stage at only 200 k
 * docs). These kernels read/write UnsafeArrayData in place inside the
 * projection: the only allocations are one String per doc (UTF-16 view
 * for hash parity) and the primitive output arrays, and the surrounding
 * operators stay in one whole-stage-codegen span.
 *
 * Hash formulas are bit-identical to the previous formulation (FNV-1a
 * over words joined by single spaces; SplitMix64 permutations and band
 * chains), so every downstream contract — LSH == exact (PipelineSpec),
 * the Jaccard DuckDB oracle — is unchanged.
 */
object DedupKernels {

  /** Distinct word-n-gram FNV-1a shingle hashes of a single-space-
   * separated text, sorted. Hashing the contiguous char range of n
   * consecutive words (single ' ' separators included) is identical to
   * hashing the words joined by ' ' — the split-on-' ' reconstruction is
   * lossless, including empty words from consecutive spaces. */
  def shingleFnv(text: UTF8String, n: Int): ArrayData = {
    val out = rawShingleHashes(text, n)
    val nSh = out.length
    if (nSh == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // distinct via sort+squash (allocation-free beyond the output array)
    java.util.Arrays.sort(out)
    var uniq = 0
    var j = 0
    while (j < nSh) {
      if (j == 0 || out(j) != out(j - 1)) { out(uniq) = out(j); uniq += 1 }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, uniq))
  }

  /** One hash per n-gram occurrence (NOT distinct, document order). */
  private def rawShingleHashes(text: UTF8String, n: Int): Array[Long] = {
    val s = text.toString
    val len = s.length
    var words = 1
    var i = 0
    while (i < len) { if (s.charAt(i) == ' ') words += 1; i += 1 }
    val nSh = math.max(words - n + 1, 0)
    if (nSh == 0) return Array.emptyLongArray
    // starts(w) = first char index of word w; sentinel starts(words) = len+1
    val starts = new Array[Int](words + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (s.charAt(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(words) = len + 1
    val out = new Array[Long](nSh)
    var sh = 0
    while (sh < nSh) {
      var h = 0xcbf29ce484222325L
      var c = starts(sh)
      val end = starts(sh + n) - 2 // last char of word sh+n-1
      while (c <= end) { h ^= s.charAt(c).toLong; h *= 0x100000001b3L; c += 1 }
      out(sh) = h
      sh += 1
    }
    out
  }

  /** Word-n-gram repetition stats (the Gopher-class quality signals,
   * Rae et al. 2021 §A1.1) in one pass over a single-space-separated
   * text: `[slots, top_cnt, dup_occ]` where slots = max(words - n + 1, 0)
   * (total n-gram occurrences), top_cnt = occurrences of the most
   * frequent n-gram, dup_occ = occurrences whose n-gram appears >= 2
   * times. N-gram identity is the same contiguous-char-range FNV-1a as
   * [[shingleFnv]] — counts keyed by the 64-bit hash equal counts keyed
   * by the string n-gram itself absent a within-doc collision (the
   * q_dedup_jaccard oracle discipline). Sort + run-walk; the only
   * allocations are the hash array and the 3-int output. */
  def ngramRepStats(text: UTF8String, n: Int): ArrayData = {
    val hs = rawShingleHashes(text, n)
    val nSh = hs.length
    if (nSh == 0)
      return UnsafeArrayData.fromPrimitiveArray(Array(0, 0, 0))
    java.util.Arrays.sort(hs)
    var top = 0
    var dup = 0
    var j = 0
    while (j < nSh) {
      var k = j
      while (k < nSh && hs(k) == hs(j)) k += 1
      val run = k - j
      if (run > top) top = run
      if (run >= 2) dup += run
      j = k
    }
    UnsafeArrayData.fromPrimitiveArray(Array(nSh, top, dup))
  }

  /** SQL-reproducible SimHash bucket (the lsh_sig_affine discipline
   * applied to text): per nonempty space-separated word, a char fold
   * `h = (h*31 + codepoint) mod 1e9+7`; per bit i, the Lehmer round
   * `s = (h*1103515245 + i*12345 + 6789) mod 1e9+7` contributes +1 when
   * 2s >= p else -1; bit i of the bucket is set when its word-summed
   * contribution is >= 0. Every intermediate fits a signed 64-bit
   * integer (h < 2^30, h*1103515245 < 2^61), so an external SQL engine
   * replays the identical arithmetic. ASCII contract (as the fold mirrors
   * SQL `ascii`): chars are UTF-16 code units — identical to code points
   * for the engine's ASCII corpora. Returns -1 when the text has no
   * nonempty word (no geometry — callers filter, the annAssign rule). */
  def simhashAffine(text: UTF8String, nBits: Int): Long = {
    val P = 1000000007L
    val s = text.toString
    val len = s.length
    val acc = new Array[Long](nBits)
    var sawWord = false
    var i = 0
    while (i < len) {
      if (s.charAt(i) != ' ') {
        var h = 0L
        while (i < len && s.charAt(i) != ' ') {
          h = (h * 31L + s.charAt(i).toLong) % P
          i += 1
        }
        sawWord = true
        var b = 0
        while (b < nBits) {
          val r = (h * 1103515245L + b * 12345L + 6789L) % P
          acc(b) += (if (r * 2 >= P) 1L else -1L)
          b += 1
        }
      } else i += 1
    }
    if (!sawWord) return -1L
    var bucket = 0L
    var b = 0
    while (b < nBits) {
      if (acc(b) >= 0L) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  /** SQL-reproducible MinHash signature (the [[simhashAffine]]
   * discipline applied to the shingle chain): per word n-gram, the char
   * fold `h = (h*31 + codepoint) mod 1e9+7` over the CONTIGUOUS char
   * range spaces included — identical to folding the words joined by
   * ' ' (the [[shingleFnv]] reconstruction identity) — then
   * sig[k] = min over shingles of the Lehmer round
   * `(h*1103515245 + k*12345 + 6789) mod 1e9+7`. Every intermediate is
   * a signed 64-bit integer an external SQL engine replays. Fewer than
   * n words -> empty signature (no shingles, no geometry). */
  def minhashAffine(text: UTF8String, n: Int, numHashes: Int): ArrayData = {
    val P = 1000000007L
    val s = text.toString
    val len = s.length
    var words = 1
    var i = 0
    while (i < len) { if (s.charAt(i) == ' ') words += 1; i += 1 }
    val nSh = math.max(words - n + 1, 0)
    if (nSh == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val starts = new Array[Int](words + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (s.charAt(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(words) = len + 1
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var sh = 0
    while (sh < nSh) {
      var h = 0L
      var c = starts(sh)
      val end = starts(sh + n) - 2 // last char of word sh+n-1
      while (c <= end) { h = (h * 31L + s.charAt(c).toLong) % P; c += 1 }
      var k = 0
      while (k < numHashes) {
        val v = (h * 1103515245L + k * 12345L + 6789L) % P
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      sh += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** MinHash signature: sig[i] = min over shingles of the i-seeded
   * SplitMix64 permutation (the [[Hash.mix64]] family). */
  def minhashSig(hs: ArrayData, numHashes: Int): ArrayData = {
    val k = hs.numElements()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < k) {
      val h = hs.getLong(j)
      var i = 0
      while (i < numHashes) {
        val v = Hash.mix64(h ^ (i * 0x9e3779b97f4a7c15L))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Intersection size of two SORTED long arrays by a single merge walk —
   * zero allocation, unlike array_intersect's per-call hash set. Callers
   * guarantee sortedness ([[shingleFnv]] output is sorted-distinct). */
  def sortedInterSize(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  /** The loud-failure ceiling for [[pairs]]. 4096 ids -> at most
   * n*(n-1)/2 = 8,386,560 pair rows, ~400 MB of boxed GenericInternalRow
   * worst case — survivable in one task, so the require below genuinely
   * FIRES (with a diagnosis) instead of the executor dying of OOM first.
   * The previous 65536 bound admitted ~2.1 BILLION rows (>100 GB in one
   * allocation): a guard that cannot fire in its own failure regime. Any
   * corpus that hits 4096 ids in one (band, bucket) has banding parameters
   * wrong for its density (DedupJob's candidate telemetry and the
   * PipelineSpec density property both watch this) and must re-band or
   * salt — quadratic pair output is inherent to LSH banding, not a knob. */
  val MaxBucketIds = 4096

  /** All (a < b) pairs of a bucket's doc ids, sorted-ascending — the
   * in-row replacement for the band-bucket SELF-JOIN (see
   * Dedup.bandCandidates for why: the 16M-row SMJ sorts were the
   * chain's GC + wall pathology on this sandbox). Quadratic in bucket
   * size BY DESIGN (the join materializes the same k^2 rows); the guard
   * fails loudly — BEFORE any allocation — on a bucket so hot that its
   * pair set alone would be a memory bomb ([[MaxBucketIds]]). */
  def pairs(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    require(
      n <= MaxBucketIds,
      s"lsh bucket with $n colliding docs (> $MaxBucketIds: ~${n.toLong * (n - 1) / 2} " +
        "pairs in one task) — pair explosion; re-band or salt this corpus")
    val sorted = new Array[Long](n)
    var i = 0
    while (i < n) { sorted(i) = ids.getLong(i); i += 1 }
    java.util.Arrays.sort(sorted)
    // pair count fits Int by the guard (n <= 4096 -> < 2^23), but compute
    // in Long first: Int n*(n-1)/2 silently overflows from n = 46341
    val out = new Array[Any]((n.toLong * (n - 1) / 2).toInt)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](sorted(i), sorted(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Band bucket ids: one SplitMix64 chain over each band's signature
   * rows. */
  def lshBands(sig: ArrayData, bands: Int): ArrayData = {
    val nh = sig.numElements()
    require(nh % bands == 0, s"signature length $nh not divisible into $bands bands")
    val rows = nh / bands
    val bh = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Hash.mix64(0x9e3779b97f4a7c15L * (b + 1))
      var r = 0
      while (r < rows) { h = Hash.mix64(h ^ sig.getLong(b * rows + r)); r += 1 }
      bh(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bh)
  }
}

/** `shingle_fnv(text, n) -> array<bigint>`: distinct sorted word-n-gram
 * FNV-1a shingle hashes. */
case class ShingleFnv(child: Expression, n: Int) extends UnaryKernel {
  require(n >= 1, s"shingle_fnv requires n >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"shingle_fnv requires string, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_fnv"
  override protected def nullSafeEval(input: Any): Any =
    DedupKernels.shingleFnv(input.asInstanceOf[UTF8String], n)
  override protected def withNewChildInternal(newChild: Expression): ShingleFnv =
    copy(child = newChild)
}

/** `ngram_rep_stats(text, n) -> array<int> [slots, top_cnt, dup_occ]`:
 * word-n-gram repetition stats (see [[DedupKernels.ngramRepStats]]). */
case class NgramRepStats(child: Expression, n: Int) extends UnaryKernel {
  require(n >= 1, s"ngram_rep_stats requires n >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"ngram_rep_stats requires string, got $t")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ngram_rep_stats"
  override protected def nullSafeEval(input: Any): Any =
    DedupKernels.ngramRepStats(input.asInstanceOf[UTF8String], n)
  override protected def withNewChildInternal(newChild: Expression): NgramRepStats =
    copy(child = newChild)
}

/** `simhash_affine(text, nBits) -> bigint`: the SQL-reproducible twin of
 * [[SimHash64]]'s bucket assignment — mod-prime char-fold word hashes and
 * Lehmer-round bit signs instead of xxhash64, so the SimHash ASSIGNMENT
 * stage can be hash-checked against an external SQL oracle (-1 = no
 * nonempty word). */
case class SimHashAffine(child: Expression, nBits: Int) extends UnaryKernel {
  require(nBits >= 1 && nBits <= 62, s"simhash_affine requires 1 <= nBits <= 62, got $nBits")
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"simhash_affine requires string, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_affine"
  override protected def nullSafeEval(input: Any): Any =
    DedupKernels.simhashAffine(input.asInstanceOf[UTF8String], nBits)
  override protected def withNewChildInternal(newChild: Expression): SimHashAffine =
    copy(child = newChild)
}

/** `minhash_affine(text, n, numHashes) -> array<bigint>`: the
 * SQL-reproducible twin of the shingle->minhash signature chain, so the
 * MinHash ASSIGNMENT stage can be hash-checked against an external SQL
 * oracle (empty array = fewer than n words). */
case class MinHashAffine(child: Expression, n: Int, numHashes: Int) extends UnaryKernel {
  require(n >= 1, s"minhash_affine requires n >= 1, got $n")
  require(
    numHashes >= 1 && numHashes <= 1024,
    s"minhash_affine requires 1 <= numHashes <= 1024, got $numHashes")
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"minhash_affine requires string, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_affine"
  override protected def nullSafeEval(input: Any): Any =
    DedupKernels.minhashAffine(input.asInstanceOf[UTF8String], n, numHashes)
  override protected def withNewChildInternal(newChild: Expression): MinHashAffine =
    copy(child = newChild)
}

/** `arr_pairs(array<bigint>) -> array<struct<a:bigint, b:bigint>>`: all
 * a < b pairs of a bucket's ids. */
case class ArrPairs(child: Expression) extends ArrayKernelExpression {
  override protected def elemOk(e: DataType): Boolean = e == LongType
  override protected def expects: String = "array<bigint>"
  override def dataType: DataType = ArrayType(
    StructType(
      Seq(
        StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "arr_pairs"
  override protected def nullSafeEval(input: Any): Any =
    DedupKernels.pairs(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): ArrPairs =
    copy(child = newChild)
}

/** `arr_sorted_inter_size(array<bigint>, array<bigint>) -> int`:
 * merge-walk intersection size of two sorted-distinct arrays. */
case class SortedInterSize(left: Expression, right: Expression)
    extends BinaryKernel {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"arr_sorted_inter_size requires two array<bigint>, got $l, $r")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "arr_sorted_inter_size"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    DedupKernels.sortedInterSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): SortedInterSize = copy(left = newLeft, right = newRight)
}

/** `minhash_sig(array<bigint>, k) -> array<bigint>`: k-hash MinHash
 * signature (SplitMix64 permutation family). Callers must filter empty
 * shingle sets first — an all-sentinel signature would band-collide
 * every empty doc with every other. */
case class MinHashSig(child: Expression, numHashes: Int) extends ArrayKernelExpression {
  require(numHashes >= 1, s"minhash_sig requires numHashes >= 1, got $numHashes")
  override protected def elemOk(e: DataType): Boolean = e == LongType
  override protected def expects: String = "array<bigint>"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    DedupKernels.minhashSig(input.asInstanceOf[ArrayData], numHashes)
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `lsh_bands(array<bigint>, bands) -> array<bigint>`: per-band SplitMix64
 * chain bucket ids over a MinHash signature. */
case class LshBands(child: Expression, bands: Int) extends ArrayKernelExpression {
  require(bands >= 1, s"lsh_bands requires bands >= 1, got $bands")
  override protected def elemOk(e: DataType): Boolean = e == LongType
  override protected def expects: String = "array<bigint>"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_bands"
  override protected def nullSafeEval(input: Any): Any =
    DedupKernels.lshBands(input.asInstanceOf[ArrayData], bands)
  override protected def withNewChildInternal(newChild: Expression): LshBands =
    copy(child = newChild)
}
