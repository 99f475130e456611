package graft.functions.expressions

import graft.functions.{ChimpCodec, DeltaOfDelta, GorillaCodec}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Catalyst expressions for the tier-payload codecs (north-rule mandated:
 * "Gorilla XOR + delta-of-delta ... implemented as Catalyst
 * expressions/UDAFs"), bound to generated code by [[KernelCodegen]] so a
 * projection mixing codec calls with ordinary expressions stays inside
 * ONE whole-stage-codegen span.
 *
 * The whole payload lives in ONE row's blob; decode never needs state from
 * another row (reference series-boundary rule,
 * uni2ts/src/uni2ts/transform/precondition.py:176-185).
 */
// `elem` is an abstract def, NOT a constructor parameter: Spark ships
// expressions via Java serialization, and only the concrete case class is
// Serializable — every superclass must keep a no-arg constructor or task
// deserialization dies with InvalidClassException("no valid constructor").
abstract class ArrayToBinaryCodec extends UnaryKernel {
  protected def elem: DataType
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(e, _) if e == elem => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<${elem.simpleString}>, got $t")
    }
  override def dataType: DataType = BinaryType
}

abstract class BinaryToArrayCodec extends UnaryKernel {
  protected def elem: DataType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BinaryType, got ${child.dataType}")
  override def dataType: DataType = ArrayType(elem, containsNull = false)
}

case class GorillaEncode(child: Expression) extends ArrayToBinaryCodec {
  override protected def elem: DataType = DoubleType
  override def prettyName: String = "gorilla_encode"
  override protected def nullSafeEval(input: Any): Any =
    GorillaCodec.encode(input.asInstanceOf[ArrayData].toDoubleArray())
  override protected def withNewChildInternal(newChild: Expression): GorillaEncode =
    copy(child = newChild)
}

case class GorillaDecode(child: Expression) extends BinaryToArrayCodec {
  override protected def elem: DataType = DoubleType
  override def prettyName: String = "gorilla_decode"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(GorillaCodec.decode(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): GorillaDecode =
    copy(child = newChild)
}

case class ChimpEncode(child: Expression) extends ArrayToBinaryCodec {
  override protected def elem: DataType = DoubleType
  override def prettyName: String = "chimp_encode"
  override protected def nullSafeEval(input: Any): Any =
    ChimpCodec.encode(input.asInstanceOf[ArrayData].toDoubleArray())
  override protected def withNewChildInternal(newChild: Expression): ChimpEncode =
    copy(child = newChild)
}

case class ChimpDecode(child: Expression) extends BinaryToArrayCodec {
  override protected def elem: DataType = DoubleType
  override def prettyName: String = "chimp_decode"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(ChimpCodec.decode(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): ChimpDecode =
    copy(child = newChild)
}

case class DodEncode(child: Expression) extends ArrayToBinaryCodec {
  override protected def elem: DataType = LongType
  override def prettyName: String = "dod_encode"
  override protected def nullSafeEval(input: Any): Any =
    DeltaOfDelta.encode(input.asInstanceOf[ArrayData].toLongArray())
  override protected def withNewChildInternal(newChild: Expression): DodEncode =
    copy(child = newChild)
}

case class DodDecode(child: Expression) extends BinaryToArrayCodec {
  override protected def elem: DataType = LongType
  override def prettyName: String = "dod_decode"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(DeltaOfDelta.decode(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): DodDecode =
    copy(child = newChild)
}
