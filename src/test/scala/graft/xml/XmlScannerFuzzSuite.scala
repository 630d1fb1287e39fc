package graft.xml

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/**
 * Adversarial corpus for the record scanner's fast/slow path split: every
 * construct that makes the in-buffer fast path bail (quotes hiding `>`,
 * whitespace end tags, comments/CDATA containing fake end tags, row-tag
 * prefixed children, nested same-name records) plus oversized records that
 * straddle the 128 KiB read-buffer boundary, across forced split sizes.
 * The invariant: exactly one record per planted id, no losses, no
 * duplicates, regardless of which path consumed which construct.
 */
class XmlScannerFuzzSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val n = 3000
  private def corpus(nested: Boolean): String = {
    val rnd = new scala.util.Random(0xf022)
    val sb = new StringBuilder(16 << 20)
    sb.append("<rows>\n")
    (0 until n).foreach { i =>
      rnd.nextInt(12) match {
        case 0 => // attribute values hiding '>' in both quote styles
          sb.append(s"""<row a="x>y" b='q>r'><num>$i</num></row>""")
        case 1 => // whitespace before the end tag's '>'
          sb.append(s"<row><num>$i</num></row\n\t >")
        case 2 => // comment and CDATA inside, both containing fake closers
          sb.append(s"<row><num>$i</num><!-- </row> --><t><![CDATA[</row>]]></t></row>")
        case 3 => // row-prefixed children, open and self-closing
          sb.append(s"<row><rowx>1</rowx><rowy/><ro>z</ro><num>$i</num></row>")
        case 4 if nested => // nested same-name record (outer num is authoritative)
          sb.append(s"<row><num>$i</num><row><num>999999</num></row></row>")
        case 5 => // self-closing attributes variant
          sb.append(s"""<row c="1"><e/><num>$i</num><f x="2"/></row>""")
        case 6 => // entities in content
          sb.append(s"<row><num>$i</num><t>a &amp; b &lt;tag&gt;</t></row>")
        case 7 if i % 50 == 0 => // oversized record crossing the read buffer
          // raw '>' is legal in content; '<' must be an entity
          val blob = "lorem ipsum dolor > &lt; sit amet " * 6000 // ~200 KB
          sb.append(s"<row><num>$i</num><blob>$blob</blob></row>")
        case 8 if nested => // comment BETWEEN records holding a full fake record
          sb.append(s"<!-- <row><num>777777</num></row> --><row><num>$i</num></row>")
        case _ =>
          sb.append(s"<row><num>$i</num><t>plain ${"pad" * rnd.nextInt(30)}</t></row>")
      }
      sb.append('\n')
    }
    sb.append("</rows>\n")
    sb.toString
  }

  // The split size is set in a session of its own, so no shared conf
  // changes under parallel suites.
  private def readIds(path: String, splitSize: String): Seq[Long] =
    SparkTestSession.splitAt(splitSize.toLong).read.format("graft.xml").option("rowTag", "row")
      .schema("num LONG").load(path)
      .collect().map(_.getLong(0)).sorted.toSeq

  test("adversarial corpus: exact id set across split sizes and codecs") {
    val dir: Path = Files.createTempDirectory("graft-fuzz")
    val f = dir.resolve("fuzz.xml")
    val bytes = corpus(nested = false).getBytes("UTF-8")
    Files.write(f, bytes)
    val bz = dir.resolve("fuzz.xml.bz2")
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val bos = codec.createOutputStream(Files.newOutputStream(bz))
    bos.write(bytes); bos.close()
    for (splitSize <- Seq("2048", "65536", "4194304"); path <- Seq(f, bz)) {
      val ids = readIds(path.toString, splitSize)
      assert(ids.length === n, s"split=$splitSize path=$path lost/duplicated records")
      assert(ids === (0 until n).map(_.toLong), s"split=$splitSize path=$path wrong id set")
    }
  }

  test("boundary-unsafe shapes: exact within a split (context-free-split contract)") {
    // Two corpus shapes are exact only when no split boundary lands inside
    // them: self-nested row tags, and row-tag OPENERS inside comments/CDATA.
    // A split that begins mid-record (or mid-comment) cannot know it, and
    // takes the first <row> it sees as a record start. This is inherent to
    // context-free split scanning and shared with the reference (reference:
    // src/main/scala/com/databricks/spark/xml/XmlInputFormat.scala:193-217
    // scans for the start tag with no enclosing context — it doesn't even
    // skip commented row tags WITHIN a split, which this scanner does) and
    // with Spark's built-in xml source descended from it. Documented, not
    // fixed: fixing it requires scanning from file start, which forfeits
    // the parallel-scan contract. Row-tag CLOSERS in comments/CDATA and all
    // quoted fakes are boundary-safe (covered by the sweep test above).
    val dir: Path = Files.createTempDirectory("graft-fuzz-nested")
    val f = dir.resolve("nested.xml")
    Files.write(f, corpus(nested = true).getBytes("UTF-8"))
    val ids = readIds(f.toString, "1073741824")
    assert(ids.length === n)
    assert(ids === (0 until n).map(_.toLong))
  }
}
