package graft.xml

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The XML `FileFormat`, used by class name, against the source names that
 * resolve to it: Spark's split planning hands it `(start, length)` byte
 * ranges and packs several files into one task, and the rows must not
 * depend on either; a write through either name gives the same bytes.
 */
class XmlFileFormatSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val format = classOf[XmlFileFormat].getName
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("t", StringType), StructField("_corrupt_record", StringType)))

  /** Records of varied length and shape: comments and CDATA holding fake end
   *  tags, quoted `>`, multibyte text, and one malformed record. */
  private def corpus(n: Int): String = {
    val rnd = new scala.util.Random(11)
    val sb = new StringBuilder("<?xml version=\"1.0\"?>\n<rows>\n")
    (0 until n).foreach { i =>
      val pad = "x" * rnd.nextInt(120)
      sb.append(i % 6 match {
        case 0 => s"""<row a="b>c"><id>$i</id><t>$pad</t></row>"""
        case 1 => s"<row><id>$i</id><!-- </row> --><t><![CDATA[</row>$pad]]></t></row>"
        case 2 => s"<row><id>$i</id><t>日本語 é € $pad</t></row>"
        case 3 if i == 33 => s"<row><id>not-a-number</id><t>$pad</t></row>"
        case 4 => s"<row>\n  <id>$i</id>\n  <t>$pad</t>\n</row>"
        case _ => s"<row><id>$i</id><t>$pad</t></row>"
      }).append('\n')
    }
    sb.append("</rows>\n").toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def write(path: Path, text: String, codec: String): Unit = {
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    val out = new FileOutputStream(path.toFile)
    try codec match {
      case "plain" => out.write(bytes)
      case "utf16" => out.write(text.getBytes(StandardCharsets.UTF_16))
      case "gzip" =>
        val gz = new java.util.zip.GZIPOutputStream(out); gz.write(bytes); gz.finish()
      case "bzip2" =>
        // 100 KB blocks, so the file holds several and splits land inside them.
        out.write("BZ".getBytes(StandardCharsets.US_ASCII))
        val bz = new org.apache.hadoop.io.compress.bzip2.CBZip2OutputStream(out, 1)
        bz.write(bytes); bz.finish()
    } finally out.close()
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  test("split ownership: 64 B splits to whole file equal the relation's rows") {
    val dir = Files.createTempDirectory("graft-fileformat-splits")
    // A UTF-16 file cannot be scanned from a mid-file offset, so it must be
    // read as one split however small the split size is.
    Seq("plain" -> 400, "gzip" -> 400, "bzip2" -> 2500, "utf16" -> 400).foreach { case (codec, n) =>
      val file = dir.resolve(codec match {
        case "gzip" => "rows.xml.gz"; case "bzip2" => "rows.xml.bz2"; case _ => s"$codec.xml"
      })
      write(file, corpus(n), codec)
      val charset = if (codec == "utf16") "UTF-16" else "UTF-8"
      val expected = rows(spark.read.format("graft.xml").option("rowTag", "row")
        .option("charset", charset).schema(schema).load(file.toString))
      assert(expected.size === n)
      val len = Files.size(file)
      Seq(64L, 1000L, len / 3, len).distinct.foreach { maxBytes =>
        val session: SparkSession = spark.newSession()
        session.conf.set("spark.sql.files.maxPartitionBytes", maxBytes)
        val df = session.read.format(format).option("rowTag", "row")
          .option("charset", charset).schema(schema).load(file.toString)
        val tasks = scans(df).head.inputRDD.getNumPartitions
        val splittable = codec == "plain" || codec == "bzip2"
        if (maxBytes < len) assert((tasks > 1) === splittable, s"$codec at $maxBytes B: $tasks")
        assert(rows(df) === expected, s"$codec at maxPartitionBytes=$maxBytes ($tasks tasks)")
      }
    }
  }

  test("60 small files packed into one FilePartition read every record once") {
    val dir = Files.createTempDirectory("graft-fileformat-packed")
    (0 until 60).foreach { i =>
      Files.writeString(dir.resolve(f"f$i%02d.xml"),
        s"<rows><row><id>$i</id><t>v$i</t></row></rows>")
    }
    val session = spark.newSession()
    session.conf.set("spark.sql.files.openCostInBytes", 1L)
    session.conf.set("spark.sql.files.minPartitionNum", 1L)
    val df = session.read.format(format).option("rowTag", "row").schema(schema)
      .load(dir.toString)
    assert(scans(df).head.inputRDD.getNumPartitions === 1)
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq === (0L until 60L))
  }

  test("writer output equals the batch writer's; a bad codec writes nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fileformat-write")
    val df = Seq((1L, "a & <b>"), (2L, null), (3L, "日本")).toDF("id", "t").coalesce(1)
    def only(p: Path, ext: String) = {
      val parts = Files.list(p).filter(_.getFileName.toString.startsWith("part-")).toArray
      assert(parts.length === 1 && parts.head.toString.endsWith(ext))
      Files.readString(parts.head.asInstanceOf[Path])
    }
    Seq(Map.empty[String, String], Map("compactOutput" -> "true")).foreach { extra =>
      val tag = if (extra.isEmpty) "pretty" else "compact"
      df.write.format("graft.xml").options(extra).option("rowTag", "r").save(s"$dir/batch-$tag")
      df.write.format(format).options(extra).option("rowTag", "r").save(s"$dir/format-$tag")
      assert(only(dir.resolve(s"format-$tag"), ".xml") === only(dir.resolve(s"batch-$tag"), ""))
    }
    intercept[ClassNotFoundException](
      df.write.format(format).option("codec", "no.such.Codec").save(s"$dir/bad"))
    assert(!Files.exists(dir.resolve("bad")))
  }
}
