package graft.xml

import java.io.StringReader

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Pull-parses one XML record string into an external [[Row]] under a
 * [[StructType]], applying the XML→relational mapping rules:
 *
 *  - attributes become `attributePrefix + name` fields
 *  - an element with attributes and character data maps its text to `valueTag`
 *  - repeated sibling elements accumulate into `ArrayType` fields
 *  - a field declared `StringType` whose element contains child elements
 *    captures the raw inner XML verbatim
 *  - unmatched elements are skipped (or captured by `wildcardColName`)
 *  - malformed records follow PERMISSIVE / DROPMALFORMED / FAILFAST
 *
 * Semantics follow the reference data model (reference:
 * src/main/scala/com/databricks/spark/xml/parsers/StaxXmlParser.scala:42-373)
 * but the implementation is new, built on the StAX *cursor* API
 * (`XMLStreamReader`) rather than the event API — no per-event object
 * allocation on the hot path.
 */
private[graft] object StaxXmlParser {
  import XMLStreamConstants._

  private val factories = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
      f.setProperty(XMLInputFactory.IS_COALESCING, true)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      // The JDK's SJSXP recycles its reader instance across
      // createXMLStreamReader calls when asked, skipping ~10 allocations +
      // buffer setup per record. Safe here: the factory is thread-local and
      // every parse completes before the next begins on a thread (parses
      // never nest — expression arguments are evaluated strictly). Other
      // StAX impls reject the property; that's fine, they just allocate.
      try f.setProperty("reuse-instance", java.lang.Boolean.TRUE)
      catch { case _: IllegalArgumentException => }
      f
    }
  }

  /**
   * Distributed entry point: one task parses its partition's records —
   * XSD validation (when configured), the StAX parse, and parse-mode
   * malformed handling, one record at a time.
   * Emits Catalyst [[InternalRow]]s directly (UTF8String / micros / epoch
   * days) so the relation can declare `needConversion = false` and skip the
   * per-row external→internal conversion layer entirely.
   */
  def parse(xml: RDD[String], schema: StructType, options: XmlOptions): RDD[InternalRow] =
    xml.mapPartitions { iter =>
      val validator = options.rowValidationXSDPath.map(ValidatorUtil.forPath)
      iter.flatMap { record =>
        val valid =
          try { validator.foreach(ValidatorUtil.validate(_, record)); true }
          catch {
            case NonFatal(e) => options.parseMode match {
              case ParseMode.FailFast =>
                throw new IllegalArgumentException(s"Record failed XSD validation: $record", e)
              case _ => false
            }
          }
        if (valid) parseRecord(record, schema, options)
        else handleMalformed(record, schema, options, partial = None)
      }
    }

  /** Single-string parse to internal form (backs `from_xml`). */
  def parseColumn(xml: String, schema: StructType, options: XmlOptions): InternalRow =
    parseRecord(xml, schema, options).orNull

  /** Single-string parse to an external [[Row]] (public `from_xml_string`). */
  def parseColumnExternal(xml: String, schema: StructType, options: XmlOptions): Row =
    parseRecord(xml, schema, options)
      .map(CatalystTypeConverters.createToScalaConverter(schema)(_).asInstanceOf[Row])
      .orNull

  /** Tracks whether any field in the current record failed to convert. */
  private final class Status { var malformed: Boolean = false }

  // Per-thread identity-keyed field-index cache: name->ordinal lookups are on
  // the per-element hot path and StructType offers no public O(1) accessor.
  private val idxCache =
    new ThreadLocal[java.util.IdentityHashMap[StructType, java.util.HashMap[String, Integer]]] {
      override def initialValue() = new java.util.IdentityHashMap
    }

  // A task deserializes fresh StructType instances, so identity keys pile up
  // one per (task × nested struct) on long-lived executor threads; flushing
  // past a small bound caps the leak at the cost of a rare rebuild.
  private val IdxCacheMaxEntries = 256

  private def fieldIndex(schema: StructType, name: String): Int = {
    val cache = idxCache.get()
    var m = cache.get(schema)
    if (m == null) {
      if (cache.size >= IdxCacheMaxEntries) cache.clear()
      m = new java.util.HashMap[String, Integer](schema.length * 2)
      var i = 0
      while (i < schema.length) { m.put(schema.fields(i).name, i); i += 1 }
      cache.put(schema, m)
    }
    val v = m.get(name)
    if (v == null) -1 else v.intValue
  }

  def parseRecord(record: String, schema: StructType, options: XmlOptions): Option[InternalRow] = {
    val status = new Status
    try {
      val reader = factories.get().createXMLStreamReader(new StringReader(record))
      try {
        while (reader.getEventType != START_ELEMENT && reader.hasNext) reader.next()
        if (reader.getEventType != START_ELEMENT) {
          throw new IllegalArgumentException("no element found in record")
        }
        val row = convertStruct(reader, schema, options, status)
        if (status.malformed) handleMalformed(record, schema, options, partial = Some(row))
        else Some(row)
      } finally {
        reader.close()
      }
    } catch {
      case NonFatal(e) =>
        options.parseMode match {
          case ParseMode.FailFast =>
            throw new IllegalArgumentException(s"Malformed record: $record", e)
          case _ => handleMalformed(record, schema, options, partial = None)
        }
    }
  }

  private def handleMalformed(
      record: String,
      schema: StructType,
      options: XmlOptions,
      partial: Option[InternalRow]): Option[InternalRow] = options.parseMode match {
    case ParseMode.FailFast =>
      throw new IllegalArgumentException(s"Malformed record: $record")
    case ParseMode.DropMalformed => None
    case ParseMode.Permissive =>
      val corruptIdx = fieldIndex(schema, options.columnNameOfCorruptRecord)
      val row = partial match {
        case Some(r: GenericInternalRow) => r
        case _ => new GenericInternalRow(schema.length)
      }
      if (corruptIdx >= 0) row.update(corruptIdx, UTF8String.fromString(record))
      Some(row)
  }

  /** Element name as seen by the (namespace-unaware) parser, with optional prefix strip. */
  private def elementName(reader: XMLStreamReader, options: XmlOptions): String = {
    val raw = reader.getLocalName
    if (options.ignoreNamespace) {
      val i = raw.indexOf(':')
      if (i >= 0) raw.substring(i + 1) else raw
    } else raw
  }

  private def attributeName(reader: XMLStreamReader, i: Int, options: XmlOptions): String = {
    val raw = reader.getAttributeLocalName(i)
    if (options.ignoreNamespace) {
      val j = raw.indexOf(':')
      if (j >= 0) raw.substring(j + 1) else raw
    } else raw
  }

  /**
   * Converts the element the reader is positioned on (START_ELEMENT) into a Row.
   * Consumes events through the element's matching END_ELEMENT.
   */
  private def convertStruct(
      reader: XMLStreamReader,
      schema: StructType,
      options: XmlOptions,
      status: Status): InternalRow = {
    val values = new Array[Any](schema.length)
    val arrays = new Array[mutable.ArrayBuffer[Any]](schema.length)
    val seen = new Array[Boolean](schema.length)
    val valueTagIdx = fieldIndex(schema, options.valueTag)
    val wildcardIdx = fieldIndex(schema, options.wildcardColName)
    val text = new StringBuilder

    def setScalarField(idx: Int, raw: String): Unit = {
      seen(idx) = true
      try {
        values(idx) = castLeaf(raw, schema(idx).dataType, options)
      } catch {
        case NonFatal(_) =>
          values(idx) = null
          status.malformed = true
      }
    }

    // Attributes of this element.
    if (!options.excludeAttribute) {
      var i = 0
      while (i < reader.getAttributeCount) {
        val name = options.attributePrefix + attributeName(reader, i, options)
        val idx = fieldIndex(schema, name)
        if (idx >= 0) setScalarField(idx, reader.getAttributeValue(i))
        i += 1
      }
    }

    var done = false
    var sawChildElement = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case START_ELEMENT =>
          sawChildElement = true
          val name = elementName(reader, options)
          val idx = fieldIndex(schema, name)
          if (idx >= 0) {
            seen(idx) = true
            schema(idx).dataType match {
              case ArrayType(elementType, _) =>
                if (arrays(idx) == null) arrays(idx) = mutable.ArrayBuffer.empty[Any]
                arrays(idx) += convertField(reader, elementType, options, status)
              case dt =>
                values(idx) = convertField(reader, dt, options, status)
            }
          } else if (wildcardIdx >= 0) {
            seen(wildcardIdx) = true
            val captured = UTF8String.fromString(outerStructureAsString(reader, options))
            schema(wildcardIdx).dataType match {
              case ArrayType(StringType, _) =>
                if (arrays(wildcardIdx) == null) {
                  arrays(wildcardIdx) = mutable.ArrayBuffer.empty[Any]
                }
                arrays(wildcardIdx) += captured
              case _ => values(wildcardIdx) = captured
            }
          } else {
            skipElement(reader)
          }
        case CHARACTERS | CDATA =>
          if (!reader.isWhiteSpace) text ++= reader.getText
        case END_ELEMENT | END_DOCUMENT => done = true
        case _ => // comments, PIs: ignore
      }
    }

    // Character data beside attributes/elements lands in the valueTag field.
    if (valueTagIdx >= 0 && !seen(valueTagIdx) && text.nonEmpty) {
      val t = if (options.ignoreSurroundingSpaces) text.result().trim else text.result()
      if (t.nonEmpty) setScalarField(valueTagIdx, t)
    }

    var i = 0
    while (i < schema.length) {
      if (arrays(i) != null) values(i) = new GenericArrayData(arrays(i).toArray)
      else if (seen(i) && values(i) == null) {
        // present-but-null: keep null
      } else if (!seen(i)) {
        // absent: null unless this element was actually a pure-text element
        // matched against a struct with only a valueTag (handled above)
        values(i) = null
      }
      // A declared non-array field that repeated keeps the last occurrence.
      schema(i).dataType match {
        case _: ArrayType if values(i) == null && seen(i) =>
          values(i) = new GenericArrayData(Array.empty[Any])
        case _ =>
      }
      i += 1
    }
    new GenericInternalRow(values)
  }

  /**
   * Converts the element at the current START_ELEMENT into a value of `dt`,
   * consuming through its END_ELEMENT. Scalar cast failures are recorded on
   * `status` and produce null (PERMISSIVE partial results).
   */
  private def convertField(
      reader: XMLStreamReader,
      dt: DataType,
      options: XmlOptions,
      status: Status): Any = dt match {
    case st: StructType => convertStruct(reader, st, options, status)
    case MapType(StringType, valueType, _) => convertMap(reader, valueType, options, status)
    case ArrayType(elementType, _) =>
      // Nested array with no intermediate struct: treat as single element.
      new GenericArrayData(Array(convertField(reader, elementType, options, status)))
    case StringType => convertStringField(reader, options)
    case scalar =>
      val raw = collectText(reader, options)
      if (raw == null) null
      else {
        try castLeaf(raw, scalar, options)
        catch {
          case NonFatal(_) =>
            status.malformed = true
            null
        }
      }
  }

  private def castLeaf(raw: String, dt: DataType, options: XmlOptions): Any = dt match {
    case StringType =>
      if (raw.isEmpty && options.treatEmptyValuesAsNulls) null
      else TypeCast.castToInternal(raw, StringType, options)
    case _ =>
      if (raw == null || raw.isEmpty) null
      else TypeCast.castToInternal(raw, dt, options)
  }

  /**
   * Gathers the character content of the current element; nested elements make
   * the content non-scalar and raise (caught by the caller's cast handler).
   * Returns "" for an empty element, which casts to null for non-string types.
   */
  private def collectText(reader: XMLStreamReader, options: XmlOptions): String = {
    val sb = new StringBuilder
    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case CHARACTERS | CDATA => sb ++= reader.getText
        case START_ELEMENT =>
          skipElement(reader)
          throw new IllegalArgumentException("unexpected child element in scalar field")
        case END_ELEMENT => done = true
        case _ =>
      }
    }
    val s = sb.result()
    if (options.ignoreSurroundingSpaces) s.trim else s
  }

  /**
   * A StringType field: plain text normally; if the element turns out to have
   * child elements (mixed content), the raw inner XML is captured verbatim.
   */
  private def convertStringField(reader: XMLStreamReader, options: XmlOptions): UTF8String = {
    val sb = new StringBuilder
    var sawElement = false
    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case CHARACTERS | CDATA =>
          if (sawElement) appendEscaped(sb, reader.getText) else sb ++= reader.getText
        case START_ELEMENT =>
          if (!sawElement) {
            // Retroactively escape what we already collected as plain text.
            val plain = sb.result(); sb.clear(); appendEscaped(sb, plain)
            sawElement = true
          }
          serializeElement(reader, sb, options)
        case END_ELEMENT => done = true
        case _ =>
      }
    }
    val s = sb.result()
    val trimmed = if (options.ignoreSurroundingSpaces) s.trim else s
    if (trimmed.isEmpty && options.treatEmptyValuesAsNulls) null
    else if (trimmed == options.nullValue) null
    else UTF8String.fromString(trimmed)
  }

  private def convertMap(
      reader: XMLStreamReader,
      valueType: DataType,
      options: XmlOptions,
      status: Status): ArrayBasedMapData = {
    val entries = mutable.LinkedHashMap.empty[String, Any]
    // Attributes of the map element itself become prefixed entries
    // (reference: StaxXmlParser.scala convertMap + XmlSuite "MapType field
    // with attributes"), mirroring how the generator writes them back out.
    if (!options.excludeAttribute) {
      var i = 0
      while (i < reader.getAttributeCount) {
        val key = options.attributePrefix + attributeName(reader, i, options)
        try entries(key) = castLeaf(reader.getAttributeValue(i), valueType, options)
        catch {
          case NonFatal(_) =>
            entries(key) = null
            status.malformed = true
        }
        i += 1
      }
    }
    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case START_ELEMENT =>
          val key = elementName(reader, options)
          entries(key) = convertField(reader, valueType, options, status)
        case END_ELEMENT => done = true
        case _ =>
      }
    }
    new ArrayBasedMapData(
      new GenericArrayData(entries.keys.map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(entries.values.toArray))
  }

  /** Consumes the current element (START_ELEMENT) through its END_ELEMENT. */
  private def skipElement(reader: XMLStreamReader): Unit = {
    var depth = 1
    while (depth > 0 && reader.hasNext) {
      reader.next() match {
        case START_ELEMENT => depth += 1
        case END_ELEMENT => depth -= 1
        case _ =>
      }
    }
  }

  /** Serializes the element at START_ELEMENT (inclusive) into `sb`, consuming it. */
  private def serializeElement(
      reader: XMLStreamReader,
      sb: StringBuilder,
      options: XmlOptions): Unit = {
    val name = reader.getLocalName
    sb += '<' ++= name
    var i = 0
    while (i < reader.getAttributeCount) {
      sb += ' ' ++= reader.getAttributeLocalName(i) ++= "=\""
      appendEscaped(sb, reader.getAttributeValue(i))
      sb += '"'
      i += 1
    }
    sb += '>'
    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case START_ELEMENT => serializeElement(reader, sb, options)
        case CHARACTERS | CDATA => appendEscaped(sb, reader.getText)
        case END_ELEMENT => done = true
        case _ =>
      }
    }
    sb ++= "</" ++= name += '>'
  }

  /** Raw XML of the current unmatched element, outer tags included (wildcard capture). */
  private def outerStructureAsString(reader: XMLStreamReader, options: XmlOptions): String = {
    val sb = new StringBuilder
    serializeElement(reader, sb, options)
    sb.result()
  }

  private def appendEscaped(sb: StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb ++= "&amp;"
        case '<' => sb ++= "&lt;"
        case '>' => sb ++= "&gt;"
        case '"' => sb ++= "&quot;"
        case c => sb += c
      }
      i += 1
    }
  }
}
