package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.RiffMessage
import graft.serde.RiffWire

/** Catalyst expressions for the reference's wire format (SURVEY §4.3):
  * `riff_encode(headers, payload) -> binary` and
  * `riff_decode(binary) -> struct<headers, payload>`.
  *
  * Semantics mirror the reference serde pair exactly
  * (`MessageSerializer.java:42-74` / `MessageDeserializer.java:49-70`),
  * including the hard assert on the 0xff marker — a poison frame fails the
  * task, which is the reference's error path (SURVEY §3.3). CodegenFallback
  * is deliberate: the serde cost is the byte copying itself, there is no
  * per-element loop for codegen to win back.
  */
case class RiffEncode(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "riff_encode"
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (MapType(StringType, ArrayType(StringType, _), _), BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "riff_encode expects (map<string,array<string>>, binary), got " +
            s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  override def nullSafeEval(headersV: Any, payloadV: Any): Any = {
    val m = headersV.asInstanceOf[MapData]
    val keys = m.keyArray()
    val vals = m.valueArray()
    val headers = (0 until m.numElements()).map { i =>
      val k = keys.getUTF8String(i).toString
      val arr = vals.getArray(i)
      if (arr == null)
        throw new IllegalArgumentException(
          s"riff_encode: header '$k' has a null value list")
      val vs = (0 until arr.numElements()).map { j =>
        val v = arr.getUTF8String(j)
        if (v == null)
          throw new IllegalArgumentException(
            s"riff_encode: header '$k' contains a null value")
        v.toString
      }
      k -> vs
    }
    // preserve map iteration order like the reference walks its proto map
    val msg = RiffMessage(
      scala.collection.immutable.ListMap(headers: _*),
      payloadV.asInstanceOf[Array[Byte]])
    RiffWire.encode(msg)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(l, r)
}

case class RiffDecode(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "riff_decode"
  override def dataType: DataType = RiffMessage.schema

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"riff_decode expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val msg = RiffWire.decode(v.asInstanceOf[Array[Byte]])
    val entries = msg.headers.toSeq
    val keys = new GenericArrayData(
      entries.map(e => UTF8String.fromString(e._1)).toArray[Any])
    val vals = new GenericArrayData(entries.map { e =>
      new GenericArrayData(
        e._2.map(UTF8String.fromString).toArray[Any]): Any
    }.toArray[Any])
    InternalRow(new ArrayBasedMapData(keys, vals), msg.payload)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(c)
}
