package graft.xml

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/**
 * Partitioning scenario matrix in the spirit of the reference's
 * XmlPartitioningSuite (XmlPartitioningSuite.scala:27-73): the same corpus
 * read uncompressed, gzipped, and bzip2-compressed across a sweep of split
 * sizes must always yield the same records — whatever the split boundaries
 * cut through. Records here vary in length and carry attributes and nested
 * elements so boundaries land inside tags, text, and between records.
 */
class XmlPartitioningSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val n = 2000
  private lazy val corpus: String = {
    val rnd = new scala.util.Random(11)
    val sb = new StringBuilder(1 << 20)
    sb.append("<?xml version=\"1.0\"?>\n<houses>\n")
    (0 until n).foreach { i =>
      val pad = "x" * rnd.nextInt(40)
      sb.append(s"""<house id="$i"><num>$i</num><addr>street $pad $i</addr>""")
      if (i % 3 == 0) sb.append(s"<extra><a>1</a><b>two</b></extra>")
      sb.append("</house>\n")
    }
    sb.append("</houses>\n")
    sb.toString
  }

  private def write(dir: Path): (String, String, String) = {
    val plain = dir.resolve("houses.xml")
    Files.write(plain, corpus.getBytes("UTF-8"))
    val gz = dir.resolve("houses.xml.gz")
    val gos = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    gos.write(corpus.getBytes("UTF-8")); gos.close()
    val bz = dir.resolve("houses.xml.bz2")
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val bos = codec.createOutputStream(Files.newOutputStream(bz))
    bos.write(corpus.getBytes("UTF-8")); bos.close()
    (plain.toString, gz.toString, bz.toString)
  }

  test("size-aware split packing spreads a large file across the cluster") {
    // ~8 MB single file on local[4]: Spark's packing policy
    // (FilePartition.maxSplitBytes: total/parallelism clamped to >= 4 MB,
    // the open cost) splits it at 4 MB — 3 splits, the last a short tail —
    // not into the 1 split a 32 MB block size would give.
    val dir = Files.createTempDirectory("graft-split-packing")
    val row = s"""<house id="1"><num>1</num><addr>${"x" * 100}</addr></house>\n"""
    val sb = new StringBuilder(9 << 20)
    sb.append("<houses>\n")
    var rows = 0L
    while (sb.length < (8 << 20)) { sb.append(row); rows += 1 }
    sb.append("</houses>\n")
    val big = dir.resolve("big.xml")
    Files.write(big, sb.toString.getBytes("UTF-8"))
    def read(session: org.apache.spark.sql.SparkSession) =
      session.read.format("graft.xml").option("rowTag", "house")
        .schema("_id LONG, num LONG, addr STRING").load(big.toString)
    val df = read(spark)
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === rows)
    // spark.sql.files.maxPartitionBytes caps the split size.
    assert(read(SparkTestSession.splitAt(1L << 20)).rdd.getNumPartitions >= 8)
  }

  test("split-size sweep x codec matrix returns identical record sets") {
    val dir = Files.createTempDirectory("graft-partitioning")
    val (plain, gz, bz) = write(dir)
    // The split size is set in a session of its own: no shared conf
    // changes, so this suite cannot race with concurrently-running suites.
    for (splitSize <- Seq(1024L, 4096L, 65536L, 1048576L)) {
      for (path <- Seq(plain, gz, bz)) {
        val df = SparkTestSession.splitAt(splitSize).read.format("graft.xml")
          .option("rowTag", "house")
          .schema("_id LONG, num LONG, addr STRING").load(path)
        val ids = df.select("num").collect().map(_.getLong(0)).sorted
        assert(ids.length === n, s"split=$splitSize path=$path lost/duplicated records")
        assert(ids.toSeq === (0 until n).map(_.toLong), s"split=$splitSize path=$path")
      }
    }
  }
}
