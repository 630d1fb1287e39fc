package graft.xml

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Catalyst expression behind `from_xml`: parses a string column (or an array
 * of strings) into a struct (or array of structs) under `schema`
 * (reference: src/main/scala/com/databricks/spark/xml/XmlDataToCatalyst.scala:28-63).
 *
 * `CodegenFallback` is deliberate: the StAX parse dominates cost, so
 * interpreted eval inside a generated stage loses nothing measurable.
 *
 * Mode subtlety preserved from the reference
 * (reference: src/main/scala/com/databricks/spark/xml/parsers/StaxXmlParser.scala:54-69):
 * PERMISSIVE without a corrupt-record field in the schema degrades to
 * DROPMALFORMED, i.e. a malformed value yields a null struct.
 */
case class XmlDataToCatalyst(
    child: Expression,
    schema: DataType,
    options: Map[String, String])
  extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  @transient private lazy val xmlOptions = {
    val base = XmlOptions(options)
    val hasCorrupt = rowSchema.fieldNames.contains(base.columnNameOfCorruptRecord)
    if (base.parseMode == ParseMode.Permissive && !hasCorrupt) {
      XmlOptions(options + ("mode" -> "DROPMALFORMED"))
    } else base
  }

  @transient private lazy val rowSchema: StructType = schema match {
    case st: StructType => st
    case ArrayType(st: StructType, _) => st
    case other =>
      throw new IllegalArgumentException(s"from_xml requires a struct schema, got $other")
  }

  /** The row schema's field ordinals, resolved once per expression instance. */
  @transient private lazy val fields = new StaxXmlParser.FieldOrdinals(rowSchema, xmlOptions)

  override def dataType: DataType = schema

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = (input, schema) match {
    case (s: UTF8String, _: StructType) =>
      StaxXmlParser.parseColumn(s.toString, fields, xmlOptions)
    case (arr: ArrayData, ArrayType(_: StructType, _)) =>
      // Accept any ArrayData shape (UnsafeArrayData after scans/shuffles,
      // GenericArrayData from literals); null elements map to null rows.
      val n = arr.numElements()
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          out(i) = StaxXmlParser.parseColumn(arr.getUTF8String(i).toString, fields, xmlOptions)
        }
        i += 1
      }
      new GenericArrayData(out)
    case (other, _) =>
      throw new IllegalArgumentException(
        s"from_xml cannot evaluate input of class ${other.getClass}")
  }

  override def inputTypes: Seq[DataType] = schema match {
    case _: StructType => Seq(StringType)
    case ArrayType(_: StructType, _) => Seq(ArrayType(StringType))
    case _ => Nil
  }

  override protected def withNewChildInternal(newChild: Expression): XmlDataToCatalyst =
    copy(child = newChild)
}
