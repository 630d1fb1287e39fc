package graft.xml

import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap

/**
 * Read/write options for the graft XML source.
 *
 * Mirrors the option surface of the reference library (see
 * reference: src/main/scala/com/databricks/spark/xml/XmlOptions.scala:24-83)
 * but is an independent implementation: options are resolved through Spark's
 * `CaseInsensitiveMap` and validated eagerly at construction.
 */
class XmlOptions(@transient private val raw: Map[String, String]) extends Serializable {

  private val params = CaseInsensitiveMap(raw)

  private def get(key: String): Option[String] = params.get(key)

  val charset: String = get("charset").getOrElse(StandardCharsets.UTF_8.name())
  // Fail on the driver with the JDK's UnsupportedCharsetException (same
  // contract as the reference) instead of per-task on executors.
  java.nio.charset.Charset.forName(charset)
  val codec: Option[String] = get("codec").orElse(get("compression"))

  val rowTag: String = get("rowTag").getOrElse(XmlOptions.DefaultRowTag)
  val rootTag: String = get("rootTag").getOrElse(XmlOptions.DefaultRootTag)
  val declaration: String = get("declaration").getOrElse(XmlOptions.DefaultDeclaration)
  val arrayElementName: String =
    get("arrayElementName").getOrElse(XmlOptions.DefaultArrayElementName)

  val samplingRatio: Double = get("samplingRatio").map(_.toDouble).getOrElse(1.0)
  val excludeAttribute: Boolean = get("excludeAttribute").exists(_.toBoolean)
  val treatEmptyValuesAsNulls: Boolean = get("treatEmptyValuesAsNulls").exists(_.toBoolean)
  val attributePrefix: String =
    get("attributePrefix").getOrElse(XmlOptions.DefaultAttributePrefix)
  val valueTag: String = get("valueTag").getOrElse(XmlOptions.DefaultValueTag)
  val nullValue: String = get("nullValue").getOrElse(XmlOptions.DefaultNullValue)
  val columnNameOfCorruptRecord: String =
    get("columnNameOfCorruptRecord").getOrElse(XmlOptions.DefaultCorruptRecordName)
  val ignoreSurroundingSpaces: Boolean = get("ignoreSurroundingSpaces").exists(_.toBoolean)
  val parseMode: ParseMode = ParseMode.fromString(get("mode").getOrElse("PERMISSIVE"))
  val inferSchema: Boolean = get("inferSchema").forall(_.toBoolean)
  val rowValidationXSDPath: Option[String] = get("rowValidationXSDPath")
  val ignoreNamespace: Boolean = get("ignoreNamespace").exists(_.toBoolean)
  val wildcardColName: String =
    get("wildcardColName").getOrElse(XmlOptions.DefaultWildcardColName)
  val timestampFormat: Option[String] = get("timestampFormat")
  val dateFormat: Option[String] = get("dateFormat")
  val timezone: Option[String] = get("timezone")
  // The two patterns compiled once per instance, which deserializes once
  // per task: `DateTimeFormatter` is immutable and thread-safe but not
  // `Serializable`. An invalid pattern throws on each use, as it did when
  // compiled per value.
  @transient lazy val timestampFormatter: Option[DateTimeFormatter] =
    timestampFormat.map(DateTimeFormatter.ofPattern(_, Locale.US))
  @transient lazy val dateFormatter: Option[DateTimeFormatter] =
    dateFormat.map(DateTimeFormatter.ofPattern(_, Locale.US))
  /**
   * Raw-record substring pre-filtering for pushed-down string predicates
   * (skip the whole StAX parse when a record cannot match). Sound for any
   * writer that escapes only the five XML-special characters; disable for
   * documents that encode ordinary ASCII as numeric character references
   * (&#65; for 'A'), where a substring test could miss a match.
   */
  val rawFilterPushdown: Boolean = get("rawFilterPushdown").forall(_.toBoolean)
  /**
   * Write each record as a single line with no indentation (extra over the
   * reference surface). Smaller files, and downstream parses skip the
   * inter-element whitespace events pretty-printing creates; the default
   * stays pretty-printed for byte-compatibility with reference output.
   */
  val compactOutput: Boolean = get("compactOutput").exists(_.toBoolean)
  /**
   * Explicit per-read split max size in bytes (extra over the reference
   * surface). Overrides both the automatic split-packing policy and any
   * global `mapreduce.input.fileinputformat.split.maxsize` Hadoop setting,
   * and only for this read — tests and tuning can force a split size
   * without mutating the shared SparkContext configuration.
   */
  val splitMaxBytes: Option[Long] = get("splitMaxBytes").map(_.toLong)
  /**
   * Roll V2 sink output to a new part file every N records (extra over the
   * reference surface; the V2 counterpart of Spark's own
   * `spark.sql.files.maxRecordsPerFile`, which only applies to FileFormat
   * sinks). Bounds the size of any single object at 100-TB scale — each
   * rolled file is still a complete, independently parseable XML document.
   */
  val maxRecordsPerFile: Option[Long] = get("maxRecordsPerFile").map(_.toLong)

  require(rowTag.nonEmpty, "'rowTag' option must not be empty")
  require(splitMaxBytes.forall(_ > 0), "'splitMaxBytes' must be positive")
  require(maxRecordsPerFile.forall(_ > 0), "'maxRecordsPerFile' must be positive")
  require(rootTag.nonEmpty, "'rootTag' option must not be empty")
  require(!rowTag.startsWith("<") && !rowTag.endsWith(">"),
    "'rowTag' must not include angle brackets")
  require(!rootTag.startsWith("<") && !rootTag.endsWith(">"),
    "'rootTag' must not include angle brackets")
  require(!declaration.startsWith("<") && !declaration.endsWith(">"),
    "'declaration' should not include angle brackets")
  require(samplingRatio > 0, s"samplingRatio ($samplingRatio) must be greater than 0")
  require(valueTag.nonEmpty, "'valueTag' option must not be empty")
  require(valueTag != attributePrefix,
    "'valueTag' and 'attributePrefix' options must not be the same")
}

object XmlOptions {
  val DefaultAttributePrefix = "_"
  val DefaultValueTag = "_VALUE"
  val DefaultRowTag = "ROW"
  val DefaultNullValue: String = null
  val DefaultRootTag = "ROWS"
  // Matches the reference default byte-for-byte (reference:
  // src/main/scala/com/databricks/spark/xml/XmlOptions.scala:76) so written
  // files diff clean against reference output.
  val DefaultDeclaration = """version="1.0" encoding="UTF-8" standalone="yes""""
  val DefaultArrayElementName = "item"
  val DefaultCorruptRecordName = "_corrupt_record"
  val DefaultWildcardColName = "xs_any"

  def apply(parameters: Map[String, String] = Map.empty): XmlOptions =
    new XmlOptions(parameters)
}

/** Malformed-record handling policy. */
sealed trait ParseMode extends Serializable
object ParseMode {
  case object Permissive extends ParseMode
  case object DropMalformed extends ParseMode
  case object FailFast extends ParseMode

  def fromString(s: String): ParseMode = s.toUpperCase match {
    case "PERMISSIVE" => Permissive
    case "DROPMALFORMED" => DropMalformed
    case "FAILFAST" => FailFast
    case other => throw new IllegalArgumentException(s"Unknown parse mode: $other")
  }
}
