package graft.functions

import graft.functions.expressions.UnaryKernel
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** SimHash document fingerprinting (Charikar, STOC 2002 — public spec):
 * 64-bit signature whose per-bit sign is the sign of the sum of ±1 votes
 * from each term's 64-bit hash. Near-duplicate documents differ in few
 * bits (small Hamming distance). */
object SimHash {

  /** FNV-1a 64-bit — public-domain hash, deterministic across JVMs. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def simhash64(terms: Iterator[String]): Long = {
    val votes = new Array[Int](64)
    while (terms.hasNext) {
      val h = fnv1a64(terms.next())
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** Catalyst expression: simhash64(array<string>) -> bigint, in the
 * fingerprint projection of every simhash dedup query. */
case class SimHash64(child: Expression) extends UnaryKernel {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    SimHash.simhash64((0 until arr.numElements()).iterator.map(i => arr.getUTF8String(i).toString))
  }
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
