package graft.xml

import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/**
 * Compiles pushed-down [[Filter]]s into a conjunction of required-substring
 * groups over the RAW record text: a record that contains no member of some
 * group cannot produce a matching row, so the whole StAX parse is skipped.
 * Strictly a necessary-condition pre-test — Spark re-evaluates every
 * filter above a file scan, so a false KEEP costs only the parse it would
 * have cost anyway.
 *
 * Only predicates whose match implies a verbatim substring are compiled:
 * equality / contains / prefix / suffix / IN on top-level string fields,
 * with values made only of printable ASCII that XML never escapes. Values a
 * writer could legally encode differently (the five specials, non-ASCII)
 * are left out, so the pre-test never false-drops for standard-escaping
 * writers; `rawFilterPushdown=false` opts out entirely for documents using
 * numeric character references on ordinary ASCII.
 *
 * (The reference declines filter pushdown — XmlRelation.scala:34-36; this
 * is a deliberate improvement for scan-heavy selective queries.)
 */
private[xml] object RawRecordFilter {

  private def substringSafe(v: String): Boolean =
    v != null && v.nonEmpty &&
      v.forall(c => c >= 0x20 && c < 0x7f &&
        c != '&' && c != '<' && c != '>' && c != '"' && c != '\'')

  /** Conjunction of disjunction-groups; empty = no usable pre-filter. */
  def compile(filters: Array[Filter], schema: StructType, options: XmlOptions): Array[Array[String]] = {
    def stringField(name: String): Boolean =
      name != options.columnNameOfCorruptRecord &&
        schema.fields.exists(f => f.name == name && f.dataType == StringType)

    def groups(f: Filter): Option[Seq[Seq[String]]] = f match {
      case EqualTo(a, v: String) if stringField(a) && substringSafe(v) =>
        Some(Seq(Seq(v)))
      case StringContains(a, v) if stringField(a) && substringSafe(v) =>
        Some(Seq(Seq(v)))
      case StringStartsWith(a, v) if stringField(a) && substringSafe(v) =>
        Some(Seq(Seq(v)))
      case StringEndsWith(a, v) if stringField(a) && substringSafe(v) =>
        Some(Seq(Seq(v)))
      case In(a, vs) if stringField(a) && vs.nonEmpty &&
          vs.forall(v => v.isInstanceOf[String] && substringSafe(v.asInstanceOf[String])) =>
        Some(Seq(vs.map(_.asInstanceOf[String]).toSeq))
      case And(l, r) =>
        // Both sides must hold, so either side's requirements stand alone.
        (groups(l), groups(r)) match {
          case (Some(a), Some(b)) => Some(a ++ b)
          case (a @ Some(_), None) => a
          case (None, b) => b
        }
      case Or(l, r) =>
        // Only mergeable when each side is a single group; a lost side would
        // wrongly strengthen the condition.
        for {
          a <- groups(l) if a.lengthCompare(1) == 0
          b <- groups(r) if b.lengthCompare(1) == 0
        } yield Seq(a.head ++ b.head)
      case _ => None
    }

    filters.iterator.flatMap(f => groups(f).getOrElse(Nil))
      .map(_.toArray).toArray
  }
}

/**
 * One scan's work on raw record strings, shared by [[XmlFileFormat]]'s
 * reader and [[XmlRelation.buildScan]]: the raw pre-test of the pushed filters,
 * the StAX parse, and the projection to the requested columns.
 *
 * FAILFAST must see every record: a pre-dropped malformed record would let
 * a query succeed that is contractually required to throw, so that mode
 * gets no pre-test. Malformedness is defined against the full row: a pruned
 * parse would never attempt the casts of unselected columns, silently
 * changing what counts as corrupt. When the query observes malformedness —
 * it selects the corrupt-record column, or the mode drops bad rows — the
 * full schema is parsed and projected afterwards. So is an empty request (a
 * count), which must yield one row per record the full parse keeps.
 */
private[xml] final class RecordScan(
    full: StructType,
    requested: StructType,
    filters: Array[Filter],
    options: XmlOptions) extends Serializable {

  private val preGroups: Array[Array[String]] =
    if (options.rawFilterPushdown && options.parseMode != ParseMode.FailFast) {
      RawRecordFilter.compile(filters, full, options)
    } else Array.empty

  private val observesMalformed =
    requested.fieldNames.contains(options.columnNameOfCorruptRecord) ||
      options.parseMode == ParseMode.DropMalformed

  private val parseFull =
    requested.isEmpty || (observesMalformed && requested.length != full.length)

  private val projection: Array[Int] =
    if (parseFull) requested.fieldNames.map(full.fieldIndex) else null

  def rows(records: Iterator[String]): Iterator[InternalRow] = {
    val kept =
      if (preGroups.isEmpty) records
      else records.filter(rec => preGroups.forall(g => g.exists(rec.contains)))
    if (!parseFull) StaxXmlParser.parseRecords(kept, requested, options)
    else {
      val types = projection.map(i => full(i).dataType)
      StaxXmlParser.parseRecords(kept, full, options).map { row =>
        val values = new Array[Any](projection.length)
        var i = 0
        while (i < projection.length) { values(i) = row.get(projection(i), types(i)); i += 1 }
        new GenericInternalRow(values): InternalRow
      }
    }
  }
}

/**
 * The scan of the former DSv1 relation, kept for callers that time it
 * directly: [[buildScan]] runs [[XmlFile.read]]'s records of `location`
 * through [[RecordScan]], with the pushed filters as the raw pre-test. It is
 * not a relation, and no source returns it: every read through `graft.xml`,
 * `xmlng` or `xmlng2` is a `HadoopFsRelation` over [[XmlFileFormat]].
 */
case class XmlRelation(
    location: String,
    parameters: Map[String, String],
    userSchema: Option[StructType])(@transient val sqlContext: SQLContext) {

  def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val options = XmlOptions(parameters)
    val records = XmlFile.read(sqlContext.sparkContext, location, options)
    val schema = userSchema.getOrElse(InferSchema.forRead(records, options))
    val requested =
      if (requiredColumns.isEmpty) schema
      else StructType(requiredColumns.flatMap(c => schema.fields.find(_.name == c)))
    records.mapPartitions(new RecordScan(schema, requested, filters, options).rows)
      .asInstanceOf[RDD[Row]]
  }
}

/**
 * The source names `graft.xml` and `xmlng` (distinct from Spark 4's
 * built-in `xml` source), and `xmlng2` ([[XmlNg2Source]]): thin front doors
 * to [[XmlFileFormat]] (reference:
 * src/main/scala/com/databricks/spark/xml/DefaultSource.scala:29-111). A
 * batch read is Spark's `HadoopFsRelation` over the format, so listing,
 * size estimates, split packing, partition discovery, a stream sink's
 * `_spark_metadata` log and `INSERT` come from Spark's file layer. The
 * relation providers stay because Spark consults them before a `FileFormat`
 * and before any write: they check the options there, so a bad codec or
 * charset fails before an Overwrite deletes the old output.
 */
class DefaultSource
  extends RelationProvider
  with SchemaRelationProvider
  with CreatableRelationProvider
  with StreamSourceProvider
  with StreamSinkProvider
  with DataSourceRegister {

  override def shortName(): String = "xmlng"

  private def pathFor(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' must be specified for XML data"))

  // ---- Structured Streaming: readStream.format("xmlng") ----

  private def inferStreamSchema(
      sqlContext: SQLContext,
      parameters: Map[String, String]): StructType = {
    val options = XmlOptions(parameters)
    val raw = XmlFile.read(sqlContext.sparkContext, pathFor(parameters), options)
    if (raw.isEmpty()) {
      throw new IllegalArgumentException(
        "Cannot infer a schema for an XML stream over an empty directory; " +
          "provide .schema(...) or seed the directory first")
    }
    InferSchema.forRead(raw, options)
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val resolved = schema.getOrElse {
      // Infer once per QUERY START from the files already present — the
      // stream's schema is fixed for its lifetime, like other file sources.
      // Spark calls sourceSchema at plan time and createSource at start
      // with only the USER schema, so without a handoff inference would
      // scan the directory twice — and could resolve two different schemas
      // if files landed in between, failing the first micro-batch's
      // plan/output check. The pin holds (path, options) → planned schema
      // until createSource CONSUMES it, so the next query over the same
      // path re-infers fresh (new fields are picked up) and the map stays
      // bounded. Inference runs outside the map — a multi-second Spark job
      // must not execute under a ConcurrentHashMap bin lock.
      val key = (pathFor(parameters), parameters.toSeq.sorted)
      Option(DefaultSource.plannedStreamSchemas.get(key)).getOrElse {
        val inferred = inferStreamSchema(sqlContext, parameters)
        val prior = DefaultSource.plannedStreamSchemas.putIfAbsent(key, inferred)
        if (prior != null) prior else inferred
      }
    }
    (shortName(), resolved)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val resolved = schema.getOrElse {
      // Consume the schema pinned at plan time (guaranteeing the source
      // matches the analyzed plan's attributes); if none is pinned —
      // checkpoint restart paths that skip sourceSchema — infer here.
      val key = (pathFor(parameters), parameters.toSeq.sorted)
      Option(DefaultSource.plannedStreamSchemas.remove(key))
        .getOrElse(inferStreamSchema(sqlContext, parameters))
    }
    // Spark's file stream source: a durable, compacted log of the files
    // each batch took, `maxFilesPerTrigger`/`maxBytesPerTrigger` pacing and
    // `maxFileAge`. Its batches resolve the format by class name, and
    // DataSource tests RelationProvider before FileFormat, so the format is
    // its own class rather than this one.
    new FileStreamSource(
      sqlContext.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      pathFor(parameters), classOf[XmlFileFormat].getName, resolved, Nil,
      metadataPath, parameters)
  }

  // ---- Structured Streaming: writeStream.format("xmlng") ----

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"xmlng sink supports Append output mode only, got $outputMode " +
        "(files are immutable once written; aggregate with a watermark to use Append)")
    // Spark's file stream sink: each batch's files are written under the
    // commit protocol and listed in `_spark_metadata`; a batch already in
    // the log is skipped on replay.
    new FileStreamSink(sqlContext.sparkSession, pathFor(parameters), new XmlFileFormat,
      partitionColumns, parameters)
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    createRelation(sqlContext, parameters, null)

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    fileSource(sqlContext, parameters, Option(schema)).resolveRelation()

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val source = fileSource(sqlContext, parameters, Some(data.schema))
    data.write.format(source.className).mode(mode).options(source.options)
      .save(pathFor(parameters))
    source.resolveRelation(checkFilesExist = false)
  }

  /** [[XmlFileFormat]] over the paths `parameters` names, once the options
   *  pass the checks that must run before any write. The path splits as
   *  `FileInputFormat` splits it: on commas, but not inside `{a,b}` globs. */
  private def fileSource(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: Option[StructType]): DataSource = {
    val spark = sqlContext.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    XmlOptions(DefaultSource.withSessionTimeZone(spark, parameters)).codec
      .foreach(XmlFile.resolveCodec)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    FileInputFormat.setInputPaths(job, pathFor(parameters))
    DataSource(spark, classOf[XmlFileFormat].getName,
      FileInputFormat.getInputPaths(job).map(_.toString).toSeq, schema,
      options = parameters - "path")
  }
}

/** The short name `xmlng2` for [[DefaultSource]]: same format, same scan. */
class XmlNg2Source extends DefaultSource { override def shortName(): String = "xmlng2" }

object DefaultSource {
  /** `parameters` with the session time zone as `timezone` when none is set. */
  private[xml] def withSessionTimeZone(
      spark: org.apache.spark.sql.SparkSession,
      parameters: Map[String, String]): Map[String, String] =
    if (parameters.contains("timezone")) parameters
    else parameters + ("timezone" -> spark.sessionState.conf.sessionLocalTimeZone)

  /** Plan-time → start-time schema handoff: (path, sorted options) ->
   *  schema inferred at sourceSchema, consumed (removed) by createSource.
   *  Driver-side; bounded because every entry is consumed at query start. */
  private[xml] val plannedStreamSchemas =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Seq[(String, String)]),
      org.apache.spark.sql.types.StructType]()
}
