package graft.xml

import java.io.OutputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CompressionCodecs
import org.apache.spark.sql.execution.datasources.{CodecStreams, OutputWriter, OutputWriterFactory, PartitionedFile, TextBasedFileFormat}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/**
 * The graft XML reader and writer as a Spark `FileFormat`, the interface
 * Spark's own file sources are built on. Every XML file read and write goes
 * through it: batch reads and writes through `graft.xml`/`xmlng`/`xmlng2`
 * ([[DefaultSource]] resolves them to a `HadoopFsRelation` over this
 * format), Spark's file stream source and sink
 * (`readStream`/`writeStream.format("xmlng")`) and partitioned layouts
 * ([[XmlPartitioned]]). So they all get Spark's listing, partition
 * discovery and pruning, `FilePartition` packing, commit protocol and
 * stream logs.
 *
 * It has no short name, because Spark's built-in source owns `xml`; the
 * source names above, or its class name, select it.
 *
 * Reader: each `PartitionedFile`'s byte range is one `XmlRecordReader`
 * split, under the same ownership rules as a `FileInputFormat` split
 * (BYBLOCK for bzip2, whole-file for gzip), and its records go through
 * [[RecordScan]]. Writer: one complete XML document per output file —
 * header on open, one row element per row, footer on close — so part files
 * are independently parseable. Both take the session time zone when the
 * `timezone` option is missing.
 */
class XmlFileFormat extends TextBasedFileFormat {

  override def toString: String = "graft.xml"
  override def equals(other: Any): Boolean = other.isInstanceOf[XmlFileFormat]
  override def hashCode(): Int = getClass.hashCode()

  override def isSplitable(
      sparkSession: SparkSession,
      options: Map[String, String],
      path: Path): Boolean = {
    // A charset that is not ASCII-compatible is decoded from the start of
    // the file, so such a file is always one split (XmlInputFormat too).
    val charset = java.nio.charset.Charset.forName(XmlOptions(options).charset)
    XmlInputFormat.isAsciiCompatible(charset) && super.isSplitable(sparkSession, options, path)
  }

  override def inferSchema(
      sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    if (files.isEmpty) None
    else {
      val xmlOptions = XmlOptions(DefaultSource.withSessionTimeZone(sparkSession, options))
      Some(InferSchema.forRead(
        XmlFile.readFiles(sparkSession.sparkContext, files, xmlOptions), xmlOptions))
    }
  }

  override def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val xmlOptions = XmlOptions(DefaultSource.withSessionTimeZone(sparkSession, options))
    val scan = new RecordScan(dataSchema, requiredSchema, filters.toArray, xmlOptions)
    val conf = new Configuration(hadoopConf)
    conf.set(XmlInputFormat.ROW_TAG_KEY, xmlOptions.rowTag)
    conf.set(XmlInputFormat.ENCODING_KEY, xmlOptions.charset)
    val broadcastConf = sparkSession.sparkContext.broadcast(new SerializableConfiguration(conf))
    (file: PartitionedFile) =>
      scan.rows(XmlFile.records(broadcastConf.value.value, file.toPath, file.start, file.length))
  }

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val xmlOptions = XmlOptions(DefaultSource.withSessionTimeZone(sparkSession, options))
    // A bad codec fails here, on the driver, before any task starts.
    xmlOptions.codec.map(XmlFile.resolveCodec).foreach { codec =>
      CompressionCodecs.setCodecConfiguration(job.getConfiguration, codec.getName)
    }
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String =
        ".xml" + CodecStreams.getCompressionExtension(context)

      override def newInstance(
          path: String,
          dataSchema: StructType,
          context: TaskAttemptContext): OutputWriter =
        new XmlOutputWriter(path, dataSchema, context, xmlOptions)
    }
  }
}

/** One output file: a complete XML document (the header, each row element
 *  from a new line, then the footer on its own line). A row goes to the
 *  stream as bytes filled straight from the builder: all-ASCII rows, the
 *  common case for XML, never materialize a per-row String; a row with
 *  non-ASCII text falls back to the JDK's UTF-8 encoder. */
private[xml] final class XmlOutputWriter(
    val path: String,
    dataSchema: StructType,
    context: TaskAttemptContext,
    options: XmlOptions) extends OutputWriter {

  private val (header, footer) = XmlFile.documentEnds(options)
  private val out: OutputStream = CodecStreams.createOutputStream(context, new Path(path))
  private val gen = new StaxXmlGenerator(dataSchema, options)
  private val sb = new java.lang.StringBuilder(1 << 12)
  private var buf = new Array[Byte](1 << 12)
  out.write(header.getBytes(StandardCharsets.UTF_8))

  override def write(row: InternalRow): Unit = {
    sb.setLength(0)
    // A pretty row starts with its own newline; a compact one does not.
    if (options.compactOutput) sb.append('\n')
    gen.write(new XmlEmitter(sb, baseDepth = 1, compact = options.compactOutput), row)
    val len = sb.length
    if (buf.length < len) buf = new Array[Byte](Integer.highestOneBit(len) << 1)
    var i = 0
    while (i < len && sb.charAt(i) < 0x80) { buf(i) = sb.charAt(i).toByte; i += 1 }
    out.write(buf, 0, i)
    if (i < len) out.write(sb.substring(i).getBytes(StandardCharsets.UTF_8))
  }

  override def close(): Unit = {
    out.write(("\n" + footer + "\n").getBytes(StandardCharsets.UTF_8))
    out.close()
  }
}
