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

  /** One StAX input factory per thread (a factory is not thread-safe),
   *  shared by the parse and by inference. `XMLInputFactory.newInstance()`
   *  resolves to Hadoop's shaded Woodstox, which the Spark classpath
   *  registers as the StAX service; XmlSuite pins that class, since another
   *  implementation would change how malformed records fail. Woodstox has no
   *  reader recycling, so every record gets a fresh reader. */
  private val factories = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
      f.setProperty(XMLInputFactory.IS_COALESCING, true)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      f
    }
  }

  private[xml] def inputFactory: XMLInputFactory = factories.get()

  /** A reader over `record`, positioned on its first START_ELEMENT (or at
   *  the end, if it has none). */
  private[xml] def openRecord(record: String): XMLStreamReader = {
    val reader = factories.get().createXMLStreamReader(new StringReader(record))
    try {
      while (reader.getEventType != START_ELEMENT && reader.hasNext) reader.next()
      reader
    } catch {
      case NonFatal(e) => reader.close(); throw e
    }
  }

  /**
   * A struct's field ordinals by name, and those of the struct under each
   * field (through arrays and map values), built once per task, or once per
   * `from_xml` expression, and passed down the parse: `StructType` has no
   * O(1) name lookup. A repeated name resolves to its last field.
   * Attributes are looked up by their name without `attributePrefix`, so a
   * lookup concatenates and hashes no new string.
   */
  private[xml] final class FieldOrdinals(val schema: StructType, options: XmlOptions) {
    private val byName = new java.util.HashMap[String, Integer](schema.length * 2)
    private val byAttribute = new java.util.HashMap[String, Integer](schema.length * 2)
    schema.fields.indices.foreach { i =>
      val name = schema.fields(i).name
      byName.put(name, i)
      if (name.startsWith(options.attributePrefix)) {
        byAttribute.put(name.substring(options.attributePrefix.length), i)
      }
    }

    private def find(map: java.util.HashMap[String, Integer], name: String): Int = {
      val v = map.get(name)
      if (v == null) -1 else v.intValue
    }

    def apply(name: String): Int = find(byName, name)

    /** The field of the attribute `name`, given without `attributePrefix`. */
    def attribute(name: String): Int = find(byAttribute, name)

    val valueTag: Int = apply(options.valueTag)
    val wildcard: Int = apply(options.wildcardColName)
    val corruptRecord: Int = apply(options.columnNameOfCorruptRecord)

    /** The ordinals of the struct field `i` holds, or null if it holds none. */
    val nested: Array[FieldOrdinals] =
      schema.fields.map(f => structUnder(f.dataType).map(new FieldOrdinals(_, options)).orNull)
  }

  private def structUnder(dt: DataType): Option[StructType] = dt match {
    case st: StructType => Some(st)
    case ArrayType(et, _) => structUnder(et)
    case MapType(_, vt, _) => structUnder(vt)
    case _ => None
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
    xml.mapPartitions(parseRecords(_, schema, options))

  /** One task's records parsed as [[parse]] does, for a caller that holds the
   *  records as an iterator (a `FileFormat` reader). */
  private[xml] def parseRecords(
      records: Iterator[String],
      schema: StructType,
      options: XmlOptions): Iterator[InternalRow] = {
    val validator = options.rowValidationXSDPath.map(ValidatorUtil.forPath)
    val fields = new FieldOrdinals(schema, options)
    records.flatMap { record =>
      val valid =
        try { validator.foreach(ValidatorUtil.validate(_, record)); true }
        catch {
          case NonFatal(e) => options.parseMode match {
            case ParseMode.FailFast =>
              throw new IllegalArgumentException(s"Record failed XSD validation: $record", e)
            case _ => false
          }
        }
      if (valid) parseRecord(record, fields, options)
      else handleMalformed(record, fields, options, partial = None)
    }
  }

  /** Single-string parse to internal form (backs `from_xml`). */
  def parseColumn(xml: String, fields: FieldOrdinals, options: XmlOptions): InternalRow =
    parseRecord(xml, fields, options).orNull

  /** Single-string parse to an external [[Row]] (public `from_xml_string`). */
  def parseColumnExternal(xml: String, schema: StructType, options: XmlOptions): Row =
    parseRecord(xml, new FieldOrdinals(schema, options), options)
      .map(CatalystTypeConverters.createToScalaConverter(schema)(_).asInstanceOf[Row])
      .orNull

  /** Tracks whether any field in the current record failed to convert. */
  private final class Status { var malformed: Boolean = false }

  private def parseRecord(
      record: String, fields: FieldOrdinals, options: XmlOptions): Option[InternalRow] = {
    val status = new Status
    try {
      val reader = openRecord(record)
      try {
        if (reader.getEventType != START_ELEMENT) {
          throw new IllegalArgumentException("no element found in record")
        }
        val row = convertStruct(reader, fields, options, status)
        if (status.malformed) handleMalformed(record, fields, options, partial = Some(row))
        else Some(row)
      } finally {
        reader.close()
      }
    } catch {
      case NonFatal(e) =>
        options.parseMode match {
          case ParseMode.FailFast =>
            throw new IllegalArgumentException(s"Malformed record: $record", e)
          case _ => handleMalformed(record, fields, options, partial = None)
        }
    }
  }

  private def handleMalformed(
      record: String,
      fields: FieldOrdinals,
      options: XmlOptions,
      partial: Option[InternalRow]): Option[InternalRow] = options.parseMode match {
    case ParseMode.FailFast =>
      throw new IllegalArgumentException(s"Malformed record: $record")
    case ParseMode.DropMalformed => None
    case ParseMode.Permissive =>
      val row = partial match {
        case Some(r: GenericInternalRow) => r
        case _ => new GenericInternalRow(fields.schema.length)
      }
      if (fields.corruptRecord >= 0) {
        row.update(fields.corruptRecord, UTF8String.fromString(record))
      }
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
      fields: FieldOrdinals,
      options: XmlOptions,
      status: Status): InternalRow = {
    val schema = fields.schema
    val values = new Array[Any](schema.length)
    val arrays = new Array[mutable.ArrayBuffer[Any]](schema.length)
    val seen = new Array[Boolean](schema.length)
    val valueTagIdx = fields.valueTag
    val wildcardIdx = fields.wildcard
    // Character data: the first event's string, a builder only from a second.
    var text: String = null
    var moreText: java.lang.StringBuilder = null

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
        val idx = fields.attribute(attributeName(reader, i, options))
        if (idx >= 0) setScalarField(idx, reader.getAttributeValue(i))
        i += 1
      }
    }

    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case START_ELEMENT =>
          val name = elementName(reader, options)
          val idx = fields(name)
          if (idx >= 0) {
            seen(idx) = true
            schema(idx).dataType match {
              case ArrayType(elementType, _) =>
                if (arrays(idx) == null) arrays(idx) = mutable.ArrayBuffer.empty[Any]
                arrays(idx) +=
                  convertField(reader, elementType, fields.nested(idx), options, status)
              case dt =>
                values(idx) = convertField(reader, dt, fields.nested(idx), options, status)
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
          if (!reader.isWhiteSpace) {
            if (text == null) text = reader.getText
            else {
              if (moreText == null) moreText = new java.lang.StringBuilder(text)
              moreText.append(reader.getText)
            }
          }
        case END_ELEMENT | END_DOCUMENT => done = true
        case _ => // comments, PIs: ignore
      }
    }

    // Character data beside attributes/elements lands in the valueTag field.
    if (valueTagIdx >= 0 && !seen(valueTagIdx) && text != null) {
      val all = if (moreText != null) moreText.toString else text
      val t = if (options.ignoreSurroundingSpaces) all.trim else all
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
   * consuming through its END_ELEMENT; `nested` holds the ordinals of the
   * struct under `dt`, if any. Scalar cast failures are recorded on
   * `status` and produce null (PERMISSIVE partial results).
   */
  private def convertField(
      reader: XMLStreamReader,
      dt: DataType,
      nested: FieldOrdinals,
      options: XmlOptions,
      status: Status): Any = dt match {
    case _: StructType => convertStruct(reader, nested, options, status)
    case MapType(StringType, valueType, _) =>
      convertMap(reader, valueType, nested, options, status)
    case ArrayType(elementType, _) =>
      // Nested array with no intermediate struct: treat as single element.
      new GenericArrayData(Array(convertField(reader, elementType, nested, options, status)))
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
   * A one-event leaf returns that event's string, with no builder.
   */
  private def collectText(reader: XMLStreamReader, options: XmlOptions): String = {
    var text = ""
    var moreText: java.lang.StringBuilder = null
    var events = 0
    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case CHARACTERS | CDATA =>
          if (events == 0) text = reader.getText
          else {
            if (moreText == null) moreText = new java.lang.StringBuilder(text)
            moreText.append(reader.getText)
          }
          events += 1
        case START_ELEMENT =>
          skipElement(reader)
          throw new IllegalArgumentException("unexpected child element in scalar field")
        case END_ELEMENT => done = true
        case _ =>
      }
    }
    val s = if (moreText != null) moreText.toString else text
    if (options.ignoreSurroundingSpaces) s.trim else s
  }

  /**
   * A StringType field: plain text normally; if the element turns out to have
   * child elements (mixed content), the raw inner XML is captured verbatim.
   * Plain text of one event is taken as is, with no builder.
   */
  private def convertStringField(reader: XMLStreamReader, options: XmlOptions): UTF8String = {
    var text = ""
    var sb: StringBuilder = null
    var events = 0
    var sawElement = false
    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case CHARACTERS | CDATA =>
          if (sawElement) appendEscaped(sb, reader.getText)
          else if (events == 0) text = reader.getText
          else {
            if (sb == null) sb = new StringBuilder(text)
            sb ++= reader.getText
          }
          events += 1
        case START_ELEMENT =>
          if (!sawElement) {
            // Retroactively escape what we already collected as plain text.
            val plain = if (sb != null) sb.result() else text
            sb = new StringBuilder
            appendEscaped(sb, plain)
            sawElement = true
          }
          serializeElement(reader, sb, options)
        case END_ELEMENT => done = true
        case _ =>
      }
    }
    val s = if (sb != null) sb.result() else text
    val trimmed = if (options.ignoreSurroundingSpaces) s.trim else s
    if (trimmed.isEmpty && options.treatEmptyValuesAsNulls) null
    else if (trimmed == options.nullValue) null
    else UTF8String.fromString(trimmed)
  }

  private def convertMap(
      reader: XMLStreamReader,
      valueType: DataType,
      nested: FieldOrdinals,
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
          entries(key) = convertField(reader, valueType, nested, options, status)
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
