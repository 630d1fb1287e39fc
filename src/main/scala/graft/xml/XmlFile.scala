package graft.xml

import java.nio.charset.Charset

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodec
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.datasources.RecordReaderIterator

/**
 * File-level helpers of the XML source (reference:
 * src/main/scala/com/databricks/spark/xml/util/XmlFile.scala:39-161): raw
 * record strings as an RDD, for schema inference and the parse probes; one
 * byte range's records, for [[XmlFileFormat]]'s reader; and the document
 * ends and codec lookup its writer uses.
 */
private[graft] object XmlFile {

  /**
   * Split max-size per Spark's FilePartition.maxSplitBytes policy: pack the
   * input into at least defaultParallelism splits, bounded by [4 MB
   * open-cost, 128 MB]. FileInputFormat otherwise splits at the filesystem
   * block size (32 MB on local disks), which leaves most cores idle on
   * inputs in the 100 MB range. None when the input size is unknown or a
   * global `mapreduce.input.fileinputformat.split.maxsize` is set.
   */
  private def splitMaxSizeFor(sc: SparkContext, totalBytes: Option[Long]): Option[Long] = {
    if (sc.hadoopConfiguration.get("mapreduce.input.fileinputformat.split.maxsize") != null) {
      return None
    }
    totalBytes.map { total =>
      val target = math.max(1, sc.defaultParallelism)
      math.min(128L << 20, math.max(4L << 20, total / target))
    }
  }

  /** Raw record strings for `path` (comma-separated, globs ok), split-parallel. */
  def read(sc: SparkContext, path: String, options: XmlOptions): RDD[String] =
    readInputs(sc, path, options, totalInputBytes(sc.hadoopConfiguration, path))(
      FileInputFormat.setInputPaths(_, path))

  /** Raw record strings for an explicit file list. The files go to Hadoop
   *  as `Path`s, not as one comma-joined string, so a comma in a name (a
   *  partition value, say) cannot split a path in two. */
  def readFiles(sc: SparkContext, files: Seq[FileStatus], options: XmlOptions): RDD[String] =
    if (files.isEmpty) sc.emptyRDD[String]
    else readInputs(sc, files.map(_.getPath).mkString(","), options, Some(files.map(_.getLen).sum))(
      FileInputFormat.setInputPaths(_, files.map(_.getPath): _*))

  private def readInputs(
      sc: SparkContext,
      name: String,
      options: XmlOptions,
      totalBytes: Option[Long])(setInputs: Job => Unit): RDD[String] = {
    val job = Job.getInstance(sc.hadoopConfiguration) // a private copy
    val conf = job.getConfiguration
    conf.set(XmlInputFormat.ROW_TAG_KEY, options.rowTag)
    conf.set(XmlInputFormat.ENCODING_KEY, options.charset)
    splitMaxSizeFor(sc, totalBytes).foreach(
      conf.setLong("mapreduce.input.fileinputformat.split.maxsize", _))
    setInputs(job)
    val charsetName = options.charset
    sc.newAPIHadoopRDD(conf, classOf[XmlInputFormat], classOf[LongWritable], classOf[Text])
      .setName(name)
      .mapPartitions { iter =>
        val charset = recordCharset(charsetName)
        iter.map { case (_, text) => new String(text.getBytes, 0, text.getLength, charset) }
      }
  }

  /** The charset of the record bytes `XmlRecordReader` emits: the file's own
   *  when it is ASCII-compatible, else UTF-8, since the reader decodes such
   *  input to UTF-8 (`TranscodingInputStream`) before scanning. */
  private def recordCharset(charsetName: String): Charset = {
    val cs = Charset.forName(charsetName)
    if (XmlInputFormat.isAsciiCompatible(cs)) cs else java.nio.charset.StandardCharsets.UTF_8
  }

  /** Raw record strings of one byte range of one file: the records
   *  `XmlRecordReader` assigns to the split `(start, length)` of `file`, under
   *  the same ownership rules as a `FileInputFormat` split. `conf` carries
   *  [[XmlInputFormat.ROW_TAG_KEY]] and [[XmlInputFormat.ENCODING_KEY]]. The
   *  reader closes when the records run out or the task ends. */
  private[xml] def records(
      conf: Configuration,
      file: Path,
      start: Long,
      length: Long): Iterator[String] = {
    val charset = recordCharset(conf.get(XmlInputFormat.ENCODING_KEY))
    val reader = new XmlRecordReader
    val attempt = new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)
    reader.initialize(new FileSplit(file, start, length, Array.empty[String]),
      new TaskAttemptContextImpl(conf, attempt))
    val texts = new RecordReaderIterator(reader)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => texts.close()))
    texts.map(text => new String(text.getBytes, 0, text.getLength, charset))
  }

  /** Total byte size of the files `path` names (comma-separated, globs ok);
   *  None if listing fails — callers then fall back to their defaults. */
  private[graft] def totalInputBytes(
      conf: org.apache.hadoop.conf.Configuration,
      path: String): Option[Long] = {
    try {
      var total = 0L
      path.split(",").foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p.trim)
        val fs = hp.getFileSystem(conf)
        val matches = fs.globStatus(hp)
        if (matches != null) matches.foreach { st =>
          total += (if (st.isDirectory) fs.getContentSummary(st.getPath).getLength
                    else st.getLen)
        }
      }
      Some(total)
    } catch { case _: Exception => None }
  }

  /** The text before the first row and after the last one of every part
   *  file: the declaration line and the root start tag, and the root end
   *  tag. rootTag may carry inline attributes ("books count=\"3\""); only
   *  the name part closes the document (reference: XmlFile.scala:88-101). */
  private[xml] def documentEnds(options: XmlOptions): (String, String) = {
    val declaration =
      if (options.declaration.isEmpty) "" else s"<?xml ${options.declaration}?>\n"
    (s"$declaration<${options.rootTag}>", s"</${options.rootTag.split(" ", 2)(0)}>")
  }

  /** `codec` option value (a short name or a codec class name) to its
   *  class; shared with [[XmlFileFormat]]'s writer. */
  private[graft] def resolveCodec(name: String): Class[_ <: CompressionCodec] = {
    val shortNames = Map(
      "gzip" -> "org.apache.hadoop.io.compress.GzipCodec",
      "bzip2" -> "org.apache.hadoop.io.compress.BZip2Codec",
      "deflate" -> "org.apache.hadoop.io.compress.DeflateCodec",
      "snappy" -> "org.apache.hadoop.io.compress.SnappyCodec",
      "lz4" -> "org.apache.hadoop.io.compress.Lz4Codec")
    val className = shortNames.getOrElse(name.toLowerCase, name)
    Class.forName(className, true, Thread.currentThread.getContextClassLoader)
      .asInstanceOf[Class[_ <: CompressionCodec]]
  }
}
