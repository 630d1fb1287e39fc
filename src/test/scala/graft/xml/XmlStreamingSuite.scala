package graft.xml

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Streaming composition: the reference has no streaming surface, but our
 * column-function layer composes with Structured Streaming out of the box —
 * `readStream.text` over an XML-records directory + `from_xml` gives an
 * incremental XML pipeline with watermarks/windows available downstream.
 * The `xmlng` stream source and sink are Spark's file stream source and
 * sink over [[XmlFileFormat]].
 */
class XmlStreamingSuite extends AnyFunSuite {

  test("readStream.text + from_xml parses XML records incrementally") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream")
    val in = dir.resolve("in")
    Files.createDirectories(in)
    Files.writeString(in.resolve("batch1.txt"),
      "<r><k>1</k><v>a</v></r>\n<r><k>2</k><v>b</v></r>\n")

    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val parsed = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(in.toString)
      .select(graft.xml.from_xml(col("value"), schema).as("r"))
      .select("r.k", "r.v")

    val query = parsed.writeStream
      .format("memory")
      .queryName("xml_stream_out")
      .outputMode("append")
      .start()
    try {
      query.processAllAvailable()
      Files.writeString(in.resolve("batch2.txt"), "<r><k>3</k><v>c</v></r>\n")
      query.processAllAvailable()
      val rows = spark.table("xml_stream_out").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally {
      query.stop()
    }
  }

  test("native xmlng stream source reads multi-line XML documents incrementally") {
    // Real XML documents — declaration, root tag, records spanning lines —
    // which the readStream.text + from_xml composition cannot handle.
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-stream-native")
    val in = dir.resolve("in")
    Files.createDirectories(in)
    def doc(rows: Seq[(Int, String)]): String =
      rows.map { case (k, v) => s"  <r>\n    <k>$k</k>\n    <v>$v</v>\n  </r>" }
        .mkString("<?xml version=\"1.0\"?>\n<rows>\n", "\n", "\n</rows>\n")
    Files.writeString(in.resolve("a.xml"), doc(Seq(1 -> "a", 2 -> "b")))

    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val stream = spark.readStream.format("xmlng")
      .option("rowTag", "r").schema(schema).load(in.toString)
    assert(stream.isStreaming)

    val query = stream.writeStream
      .format("memory").queryName("xmlng_native_stream").outputMode("append").start()
    try {
      query.processAllAvailable()
      Files.writeString(in.resolve("b.xml"), doc(Seq(3 -> "c")))
      query.processAllAvailable()
      val rows = spark.table("xmlng_native_stream").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally query.stop()
  }

  test("xmlng stream source recovers from a checkpoint without re-reading files") {
    // Parquet sink: fault-tolerant (memory sink refuses checkpoint restart),
    // and output accumulates across incarnations — duplicates would show.
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-stream-recovery")
    val in = dir.resolve("in")
    val ckpt = dir.resolve("ckpt")
    val out = dir.resolve("out")
    Files.createDirectories(in)
    Files.writeString(in.resolve("f1.xml"), "<rows><r><k>1</k></r><r><k>2</k></r></rows>")
    val schema = StructType(Seq(StructField("k", LongType)))
    def start() = spark.readStream.format("xmlng")
      .option("rowTag", "r").schema(schema).load(in.toString)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out.toString).count() === 2)

    // New file while the query is down; the restarted incarnation must
    // deliver exactly the new file — f1 replayed would duplicate keys 1,2.
    Files.writeString(in.resolve("f2.xml"), "<rows><r><k>3</k></r></rows>")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ks = spark.read.parquet(out.toString).collect().map(_.getLong(0)).sorted.toSeq
      assert(ks === Seq(1L, 2L, 3L), s"restart must deliver f2 once and f1 never again: $ks")
    } finally q2.stop()
  }

  test("xmlng stream source: maxFilesPerTrigger paces discovery deterministically") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-stream-paced")
    val in = dir.resolve("in")
    Files.createDirectories(in)
    (1 to 3).foreach { i =>
      Files.writeString(in.resolve(s"f$i.xml"), s"<rows><r><k>$i</k></r></rows>")
      // distinct mtimes make FIFO ordering deterministic
      assert(in.resolve(s"f$i.xml").toFile.setLastModified(100000L * i))
    }
    val schema = StructType(Seq(StructField("k", LongType)))
    val batches = pacedBatches(spark.readStream.format("xmlng")
      .option("rowTag", "r").option("maxFilesPerTrigger", "1")
      .schema(schema).load(in.toString), dir.resolve("ckpt").toString)
    assert(batches === Seq(Seq(1L), Seq(2L), Seq(3L)),
      "one file per trigger, oldest modification time first")
  }

  /** Drains `stream` and returns each non-empty micro-batch's `k` values,
   *  sorted, in batch order. */
  private def pacedBatches(stream: DataFrame, checkpoint: String): Seq[Seq[Long]] = {
    val seen = new java.util.concurrent.ConcurrentSkipListMap[Long, Seq[Long]]()
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ks = batch.collect().map(_.getLong(0)).sorted.toSeq
        if (ks.nonEmpty) seen.put(id, ks)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
    try q.processAllAvailable() finally q.stop()
    seen.values().asScala.toSeq
  }

  test("xmlng stream source maxBytesPerTrigger paces by file size") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-stream-bytes")
    val in = dir.resolve("in")
    Files.createDirectories(in)
    val schema = StructType(Seq(StructField("k", LongType)))
    // Three ~60-byte files plus one oversized file; budget 150 bytes.
    (0 until 3).foreach { i =>
      val f = in.resolve(s"s$i.xml")
      Files.writeString(f, s"<rows><r><k>$i</k></r></rows>" + (" " * 30))
      assert(f.toFile.setLastModified(100000L * (i + 1)))
    }
    val big = in.resolve("s3big.xml")
    Files.writeString(big, s"<rows><r><k>3</k></r></rows>" + (" " * 400))
    assert(big.toFile.setLastModified(400000L))
    val batches = pacedBatches(spark.readStream.format("xmlng")
      .option("rowTag", "r").option("maxBytesPerTrigger", "150")
      .schema(schema).load(in.toString), dir.resolve("ckpt").toString)
    // s0+s1 fit in 150 bytes and s2 would cross; then s2 alone, since the
    // oversized file would cross; the oversized file is still admitted alone.
    assert(batches === Seq(Seq(0L, 1L), Seq(2L), Seq(3L)))
  }

  test("xmlng stream source infers the schema from files present at start") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-stream-infer")
    val in = dir.resolve("in")
    Files.createDirectories(in)
    Files.writeString(in.resolve("seed.xml"),
      "<rows><r><k>5</k><v>x</v></r></rows>")
    val stream = spark.readStream.format("xmlng")
      .option("rowTag", "r").load(in.toString)
    assert(stream.schema.fieldNames.sorted.toSeq === Seq("k", "v"))
    val query = stream.writeStream
      .format("memory").queryName("xmlng_inferred_stream").outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(spark.table("xmlng_inferred_stream").count() === 1)
    } finally query.stop()
  }

  test("xmlng stream sink writes XML files a batch read parses back") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-stream-sink")
    val in = dir.resolve("in"); val out = dir.resolve("out"); val ckpt = dir.resolve("ckpt")
    Files.createDirectories(in)
    Files.writeString(in.resolve("a.xml"),
      "<rows><r><k>1</k><v>a&amp;b</v></r><r><k>2</k><v>two</v></r></rows>")
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))

    def start() = spark.readStream.format("xmlng")
      .option("rowTag", "r").schema(schema).load(in.toString)
      .writeStream.format("xmlng")
      .option("rowTag", "rec").option("rootTag", "recs")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start(out.toString)

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()

    // Second incarnation picks up a new input file; the sink must append it
    // without disturbing (or duplicating) batch-0 output.
    Files.writeString(in.resolve("b.xml"), "<rows><r><k>3</k><v>three</v></r></rows>")
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()

    val back = spark.read.format("xmlng").option("rowTag", "rec")
      .schema(schema).load(out.toString)
    val rows = back.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a&b"), (2L, "two"), (3L, "three")))
    // Both batches are in the sink's log, and its part files are XML files.
    val log = Files.list(out.resolve("_spark_metadata")).map[String](_.getFileName.toString)
      .filter(_.forall(_.isDigit)).sorted().toArray.toSeq
    assert(log === Seq("0", "1"))
    val names = Files.list(out).map[String](_.getFileName.toString)
      .filter(n => n.startsWith("part-")).toArray
    assert(names.nonEmpty && names.forall(_.toString.matches("part-\\d+-.*\\.xml")))
  }

  test("xmlng stream sink replay of a committed batch is a no-op") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-sink-replay")
    val out = dir.resolve("out")
    val sink = xmlSink(out, Map("rowTag" -> "r"))
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    sink.addBatch(0, df)
    val firstFiles = Files.list(out).map[String](_.getFileName.toString)
      .filter(_.startsWith("part-")).sorted().toArray.toSeq
    sink.addBatch(0, df) // replay after commit: must not duplicate
    val afterFiles = Files.list(out).map[String](_.getFileName.toString)
      .filter(_.startsWith("part-")).sorted().toArray.toSeq
    assert(afterFiles === firstFiles)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    assert(spark.read.format("xmlng").option("rowTag", "r")
      .schema(schema).load(out.toString).count() === 2)
  }

  private def xmlSink(out: java.nio.file.Path, options: Map[String, String]): FileStreamSink =
    new FileStreamSink(SparkTestSession.spark, out.toString, new XmlFileFormat, Nil, options)

  test("graft.xml reads of a sink directory skip an uncommitted part file") {
    // A part file whose batch never reached the sink log (a crashed attempt
    // leaves one) holds rows that were never committed: a batch read that
    // listed the directory would return them twice once the batch replays.
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-sink-uncommitted")
    val out = dir.resolve("out")
    xmlSink(out, Map("rowTag" -> "r"))
      .addBatch(0, Seq.tabulate(8)(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1))
    val part = Files.list(out).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get
    Files.copy(part, out.resolve("part-99999-planted.c000.xml"))
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    def count(path: String) = spark.read.format("graft.xml").option("rowTag", "r")
      .schema(schema).load(path).count()
    assert(count(out.resolve("part-*").toString) === 16, "the planted copy parses")
    assert(count(out.toString) === 8, "only the sink log's files are read")
    assert(spark.read.format("xmlng").option("rowTag", "r").load(out.toString)
      .schema.fieldNames.toSeq === Seq("k", "v"), "inference over the committed files")
  }

  test("xmlng stream sink honors the compression codec; batch read splits it back") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-sink-codec")
    val out = dir.resolve("out")
    val sink = xmlSink(out, Map("rowTag" -> "r", "codec" -> "gzip"))
    sink.addBatch(0, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val files = Files.list(out).map[String](_.getFileName.toString)
      .filter(_.startsWith("part-")).sorted().toArray.toSeq.map(_.toString)
    assert(files.nonEmpty && files.forall(_.endsWith(".gz")), s"files: $files")
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val back = spark.read.format("xmlng").option("rowTag", "r")
      .schema(schema).load(out.toString)
    assert(back.orderBy("k").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("xmlng stream sink writes a partitionBy layout") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-stream-sink-partitioned")
    val in = dir.resolve("in"); val out = dir.resolve("out")
    Files.createDirectories(in)
    Files.writeString(in.resolve("a.xml"),
      "<rows><r><k>1</k><p>a</p></r><r><k>2</k><p>b</p></r><r><k>3</k><p>a</p></r></rows>")
    val schema = StructType(Seq(StructField("k", LongType), StructField("p", StringType)))
    val q = spark.readStream.format("xmlng").option("rowTag", "r").schema(schema)
      .load(in.toString)
      .writeStream.format("xmlng").option("rowTag", "r").partitionBy("p")
      .option("checkpointLocation", dir.resolve("ckpt").toString).start(out.toString)
    try q.processAllAvailable() finally q.stop()
    assert(Files.isDirectory(out.resolve("p=a")) && Files.isDirectory(out.resolve("p=b")))
    val back = XmlPartitioned.read(spark, out.toString, Map("rowTag" -> "r"))
    assert(back.where(col("p") === "a").select("k").collect().map(_.getLong(0)).sorted
      .toSeq === Seq(1L, 3L))
    // A batch read through a source name reads the sink's log: `p` comes
    // back from the directory names, and a part file the log never
    // committed is not read.
    def partFiles() = Files.walk(out).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq.sorted
    val committed = partFiles()
    val dirA = out.resolve("p=a")
    Files.copy(Files.list(dirA).filter(_.getFileName.toString.startsWith("part-")).findFirst().get,
      dirA.resolve("part-99999-planted.c000.xml"))
    val flat = spark.read.format("graft.xml").option("rowTag", "r").load(out.toString)
    assert(flat.select("k", "p").orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((1L, "a"), (2L, "b"), (3L, "a")))
    assert(flat.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getName).sorted.toSeq ===
      committed)
    assert(partFiles().contains("part-99999-planted.c000.xml"))
  }

  test("xmlng stream sink rejects non-append output modes") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-stream-sink-modes")
    val counts = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .groupBy("value").count()
    val ex = intercept[Exception] {
      counts.writeStream.format("xmlng")
        .option("checkpointLocation", dir.resolve("c1").toString)
        .outputMode("complete").start(dir.resolve("o1").toString)
    }
    assert(ex.getMessage.contains("Append"), ex.getMessage)
  }

  test("streaming windowed aggregation over parsed XML events") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft-stream2")
    val in = dir.resolve("in")
    Files.createDirectories(in)
    Files.writeString(in.resolve("b1.txt"),
      """<e><ts>2024-01-01T00:00:10Z</ts><kind>x</kind></e>
        |<e><ts>2024-01-01T00:00:20Z</ts><kind>x</kind></e>
        |<e><ts>2024-01-01T00:01:10Z</ts><kind>y</kind></e>
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("kind", StringType)))
    val counts = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(in.toString)
      .select(graft.xml.from_xml(col("value"), schema).as("e"))
      .select("e.ts", "e.kind")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute"), col("kind"))
      .count()

    val query = counts.writeStream
      .format("memory").queryName("xml_stream_win").outputMode("complete").start()
    try {
      query.processAllAvailable()
      val rows = spark.table("xml_stream_win")
        .select("kind", "count").orderBy("kind")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows === Seq(("x", 2L), ("y", 1L)))
    } finally {
      query.stop()
    }
  }
}
