package graft.xml

import java.nio.charset.Charset

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, NullWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodec
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.RecordReaderIterator
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog, SinkFileStatus}


/**
 * File-level entry points: records-RDD extraction for the read path and
 * partition-wise XML serialization for the write path (reference:
 * src/main/scala/com/databricks/spark/xml/util/XmlFile.scala:39-161).
 *
 * Write layout: each task writes one part file that is a complete XML
 * document (`declaration`, `<rootTag>`, one `<rowTag>` element per row,
 * `</rootTag>`), so part files are independently parseable — the property
 * that makes a 100 TB corpus embarrassingly parallel to re-read.
 */
private[graft] object XmlFile {

  /**
   * Split max-size per Spark's FilePartition.maxSplitBytes policy: pack the
   * input into at least defaultParallelism splits, bounded by [4 MB
   * open-cost, 128 MB]. FileInputFormat otherwise splits at the filesystem
   * block size (32 MB on local disks), which leaves most cores idle on
   * inputs in the 100 MB range. `totalBytes` comes from a driver-side
   * [[totalInputBytes]] listing (XmlRelation lists once and shares it with
   * its size estimate); None when the listing failed or an explicit user
   * setting should win.
   */
  def splitMaxSizeFor(sc: SparkContext, totalBytes: => Option[Long]): Option[Long] = {
    if (sc.hadoopConfiguration.get("mapreduce.input.fileinputformat.split.maxsize") != null) {
      return None
    }
    totalBytes.map { total =>
      val target = math.max(1, sc.defaultParallelism)
      math.min(128L << 20, math.max(4L << 20, total / target))
    }
  }

  /** Raw record strings for `path`, split-parallel; computes split sizing
   *  here (explicit `splitMaxBytes` option, else the packing policy). */
  def read(sc: SparkContext, path: String, options: XmlOptions): RDD[String] =
    read(sc, path, options, options.splitMaxBytes.orElse(
      splitMaxSizeFor(sc, totalInputBytes(sc.hadoopConfiguration, path))))

  /** Raw record strings for `path`, split-parallel, with sizing precomputed
   *  by the caller (XmlRelation computes once and reuses across inference +
   *  every buildScan). */
  def read(
      sc: SparkContext,
      path: String,
      options: XmlOptions,
      splitMaxSize: Option[Long]): RDD[String] =
    readInputs(sc, path, options, splitMaxSize)(FileInputFormat.setInputPaths(_, path))

  /** Raw record strings for an explicit file list. The files go to Hadoop
   *  as `Path`s, not as one comma-joined string, so a comma in a name (a
   *  partition value, say) cannot split a path in two. */
  def readFiles(
      sc: SparkContext,
      files: Seq[Path],
      options: XmlOptions,
      splitMaxSize: Option[Long]): RDD[String] =
    if (files.isEmpty) sc.emptyRDD[String]
    else readInputs(sc, files.mkString(","), options, splitMaxSize)(
      FileInputFormat.setInputPaths(_, files: _*))

  private def readInputs(
      sc: SparkContext,
      name: String,
      options: XmlOptions,
      splitMaxSize: Option[Long])(setInputs: Job => Unit): RDD[String] = {
    val job = Job.getInstance(sc.hadoopConfiguration) // a private copy
    val conf = job.getConfiguration
    conf.set(XmlInputFormat.ROW_TAG_KEY, options.rowTag)
    conf.set(XmlInputFormat.ENCODING_KEY, options.charset)
    splitMaxSize.foreach { maxSplit =>
      // An explicit per-read option wins over the global Hadoop conf (this
      // conf is a private copy); policy-computed sizing only fills a gap.
      if (options.splitMaxBytes.isDefined ||
          conf.get("mapreduce.input.fileinputformat.split.maxsize") == null) {
        conf.setLong("mapreduce.input.fileinputformat.split.maxsize", maxSplit)
      }
    }
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

  /** The files a streaming file sink committed under `path`, from its
   *  `_spark_metadata` log; None when `path` is not a sink's output. A part
   *  file of a batch that never committed is not listed, so a batch read
   *  skips it, and a replayed batch never shows up twice. A sink written
   *  with `partitionBy` is refused: its partition values live in directory
   *  names, which this flat read would drop. */
  private[xml] def sinkCommittedFiles(
      spark: SparkSession,
      path: String): Option[Seq[SinkFileStatus]] = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    // A glob or a comma list names no directory; asked about one,
    // `hasMetadata` would log a stack trace before answering no.
    val isDirectory = Try(fs.getFileStatus(dir).isDirectory).getOrElse(false)
    if (!isDirectory || !FileStreamSink.hasMetadata(Seq(path), conf, sqlConf)) None
    else {
      val files = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
        FileStreamSink.getMetadataLogPath(fs, dir, sqlConf).toString)
        .allFiles().toSeq.filterNot(_.isDir)
      val base = fs.makeQualified(dir)
      require(files.forall(f => new Path(f.sparkPath.toUri).getParent == base),
        s"$path is the output of a partitioned stream sink; its partition columns live " +
          "in directory names, which this source does not read: read it with " +
          s"""spark.read.format("${classOf[XmlFileFormat].getName}")""")
      Some(files)
    }
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

  def save(df: DataFrame, path: String, options: XmlOptions): Unit = {
    val schema = df.schema
    val (header, footer) = documentEnds(options)
    val codecClass: Option[Class[_ <: CompressionCodec]] = options.codec.map { name =>
      resolveCodec(name)
    }
    // Serialize from InternalRow directly: the external `df.rdd` conversion
    // (boxing every numeric, decoding every string) dominated write cost.
    // The sink mirrors saveAsTextFile (same old-API TextOutputFormat, same
    // NullWritable-key value-plus-newline layout, same reused Text) but
    // fills the Text bytes straight from the builder — all-ASCII rows (the
    // common case for XML) never materialize a per-row String, rows with
    // non-ASCII text fall back to the JDK encoder for exact parity.
    val rendered = df.queryExecution.toRdd.mapPartitions { rows =>
      // One reusable builder + Text per partition; each next() yields one
      // text line block (header, row, or row+footer).
      val sb = new java.lang.StringBuilder(1 << 16)
      val gen = new StaxXmlGenerator(schema, options)
      val text = new Text()
      var buf = new Array[Byte](1 << 16)
      // Fill `text` with the UTF-8 encoding of sb[from..sb.length).
      def fillText(from: Int): Unit = {
        val len = sb.length
        if (buf.length < len - from) {
          buf = new Array[Byte](Integer.highestOneBit(len - from) << 1)
        }
        var i = from
        var bi = 0
        var ascii = true
        while (ascii && i < len) {
          val c = sb.charAt(i)
          if (c < 0x80) { buf(bi) = c.toByte; bi += 1; i += 1 }
          else ascii = false
        }
        if (ascii) text.set(buf, 0, bi)
        else text.set(sb.substring(from)) // JDK-exact encode for non-ASCII
      }
      new Iterator[(NullWritable, Text)] {
        private var begun = false
        private var ended = false
        override def hasNext: Boolean = !ended
        override def next(): (NullWritable, Text) = {
          if (!begun) {
            begun = true
            text.set(if (rows.hasNext) header else { ended = true; header + "\n" + footer })
          } else if (rows.hasNext) {
            sb.setLength(0)
            val emitter = new XmlEmitter(sb, baseDepth = 1, compact = options.compactOutput)
            gen.write(emitter, rows.next())
            if (!rows.hasNext) {
              ended = true
              sb.append('\n').append(footer)
            }
            // Pretty mode: strip the emitter's leading newline — the sink
            // writes one per record. Compact rows start at '<'.
            fillText(if (options.compactOutput) 0 else 1)
          } else {
            throw new NoSuchElementException("exhausted")
          }
          (NullWritable.get(), text)
        }
      }
    }
    val outFmt = classOf[org.apache.hadoop.mapred.TextOutputFormat[NullWritable, Text]]
    codecClass match {
      case Some(c) =>
        rendered.saveAsHadoopFile(path, classOf[NullWritable], classOf[Text], outFmt, c)
      case None =>
        rendered.saveAsHadoopFile(path, classOf[NullWritable], classOf[Text], outFmt)
    }
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
