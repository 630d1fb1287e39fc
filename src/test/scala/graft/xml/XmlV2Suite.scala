package graft.xml

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The three names of the XML source — `graft.xml`, `xmlng` and `xmlng2` —
 *  plan the same `FileSourceScanExec` over [[XmlFileFormat]]: identical rows
 *  and schemas, pruning and pushdown into that scan, and a reported input
 *  size that lets a small XML table auto-broadcast. The `v2` in the spec
 *  names is the `xmlng2` name, which once selected a separate DataSource V2
 *  source. */
class XmlV2Suite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val formats = Seq("graft.xml", "xmlng", "xmlng2")

  private def name(i: Int): String = if (i % 100 == 0) "alice" else s"user$i"

  private lazy val dataDir: String = {
    val xml = new StringBuilder("<rows>\n")
    (0 until 1000).foreach { i =>
      xml.append(
        s"""<r id="$i"><name>${name(i)}</name><n>$i</n><note>note &amp; $i</note></r>\n""")
    }
    xml.append("</rows>\n")
    val dir = Files.createTempDirectory("graft_v2")
    Files.write(dir.resolve("data.xml"), xml.toString.getBytes("UTF-8"))
    dir.toString
  }

  private val schema = StructType(Seq(
    StructField("_id", LongType),
    StructField("name", StringType),
    StructField("n", LongType),
    StructField("note", StringType)))

  private def read(format: String): DataFrame =
    spark.read.format(format).option("rowTag", "r").schema(schema).load(dataDir)

  private def v1: DataFrame = read("xmlng")

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.toString).toSeq

  /** The plan's XML scan: always one file scan over [[XmlFileFormat]]. */
  private def xmlScan(plan: SparkPlan): FileSourceScanExec = {
    assert(plan.collectFirst { case b: BatchScanExec => b }.isEmpty,
      s"XML read planned a BatchScanExec:\n$plan")
    val scans = plan.collect {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[XmlFileFormat] => s
    }
    assert(scans.size === 1, s"expected one XmlFileFormat scan in:\n$plan")
    scans.head
  }

  test("v2 rows are identical to v1") {
    val expected = (0 until 1000).map(i =>
      Seq[Any](i.toLong, name(i), i.toLong, s"note & $i")).sortBy(_.toString)
    formats.foreach { f =>
      xmlScan(read(f).queryExecution.executedPlan)
      assert(sorted(read(f)) === expected, f)
    }
  }

  test("v2 infers the same schema as v1") {
    val inferred = formats.map(f =>
      spark.read.format(f).option("rowTag", "r").load(dataDir).schema)
    assert(inferred.distinct.size === 1, inferred)
    assert(inferred.head.fieldNames.toSet === schema.fieldNames.toSet)
  }

  test("column pruning reaches the v2 scan") {
    formats.foreach { f =>
      val q = read(f).select("name", "n")
      val scan = xmlScan(q.queryExecution.executedPlan)
      assert(scan.requiredSchema.fieldNames.toSeq === Seq("name", "n"), f)
      assert(q.agg(sum("n")).collect().head.getLong(0) === (0 until 1000).sum.toLong, f)
    }
  }

  test("string filters surface as pushed filters and results stay exact") {
    formats.foreach { f =>
      val q = read(f).filter(col("name") === "alice").select("n")
      val scan = xmlScan(q.queryExecution.executedPlan)
      val pushed = scan.metadata("PushedFilters")
      assert(pushed.contains(EqualTo("name", "alice").toString), s"$f: pushed $pushed")
      assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
        (0 until 1000 by 100).map(_.toLong), f)
      // Escapable value: not compiled into the pre-test, still exact.
      assert(read(f).filter(col("note") === "note & 7").count() === 1, f)
    }
  }

  test("v2 scan reports input size so a small XML table auto-broadcasts") {
    val big = spark.range(0, 10000).selectExpr("id", "id % 1000 as n")
    formats.foreach { f =>
      val joined = big.join(read(f).select("n", "name"), "n")
      // The pre-exchange physical plan: the XML side must be the build
      // (broadcast) side. Without a size the relation reads as
      // spark.sql.defaultSizeInBytes and only the range side could be built.
      val plan = joined.queryExecution.sparkPlan
      val bhj = plan.collectFirst { case j: BroadcastHashJoinExec => j }
        .getOrElse(fail(s"$f: expected a broadcast hash join:\n$plan"))
      val build = if (bhj.buildSide == BuildRight) bhj.right else bhj.left
      assert(build.exists(_.isInstanceOf[FileSourceScanExec]),
        s"$f: XML side is not the broadcast side:\n$plan")
      assert(joined.count() === 10000, f)
    }
  }

  test("DROPMALFORMED drops the same rows through v2") {
    val xml =
      """<rows>
        |<r id="1"><name>a</name><n>1</n><note>x</note></r>
        |<r id="2"><name>b</name><n>oops</n><note>y</note></r>
        |<r id="3"><name>c</name><n>3</n><note>z</note></r>
        |</rows>""".stripMargin
    val dir = Files.createTempDirectory("graft_v2_bad")
    Files.write(dir.resolve("bad.xml"), xml.getBytes("UTF-8"))
    // Projection away from the corrupt field must not change which rows
    // exist (full-schema parse + projection under DROPMALFORMED).
    formats.foreach { f =>
      val got = spark.read.format(f)
        .option("rowTag", "r").option("mode", "DROPMALFORMED")
        .schema(schema).load(dir.toString)
        .select("name").collect().map(_.getString(0)).sorted
      assert(got.toSeq === Seq("a", "c"), f)
    }
  }

  test("multi-split v2 read returns every record exactly once") {
    formats.foreach { f =>
      val q = SparkTestSession.splitAt(2048).read.format(f)
        .option("rowTag", "r")
        .schema(schema).load(dataDir)
      assert(q.rdd.getNumPartitions > 4, s"$f: expected many splits, got ${q.rdd.getNumPartitions}")
      val ids = q.select("_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === (0L until 1000L), f)
    }
  }

  test("comma lists and brace globs read the files they name under every name") {
    val dir = Files.createTempDirectory("graft_v2_paths")
    Seq("a" -> 1, "b" -> 2, "c" -> 3).foreach { case (file, id) =>
      Files.writeString(dir.resolve(s"$file.xml"),
        s"""<rows><r id="$id"><name>$file</name><n>$id</n><note>-</note></r></rows>""")
    }
    for (f <- formats; path <- Seq(s"$dir/a.xml,$dir/b.xml", s"$dir/{a,b}.xml")) {
      val names = spark.read.format(f).option("rowTag", "r").schema(schema).load(path)
        .select("name").collect().map(_.getString(0)).sorted.toSeq
      assert(names === Seq("a", "b"), s"$f: $path")
    }
  }

  test("the scan's file and row metrics are exact on a fixed corpus") {
    val dir = Files.createTempDirectory("graft_v2_metrics")
    val sizes = Seq(3, 5).zipWithIndex.map { case (rows, i) =>
      val xml = (0 until rows).map(k => s"<r id=\"$k\"><name>n$k</name><n>$k</n></r>")
        .mkString("<rows>\n", "\n", "\n</rows>\n")
      Files.writeString(dir.resolve(s"part$i.xml"), xml)
      xml.length.toLong
    }
    formats.foreach { f =>
      val df = spark.read.format(f).option("rowTag", "r").schema(schema).load(dir.toString)
      assert(df.collect().length === 8, f)
      val metrics = xmlScan(df.queryExecution.executedPlan).metrics
      assert(metrics("numFiles").value === 2, f)
      assert(metrics("filesSize").value === sizes.sum, f)
      assert(metrics("numOutputRows").value === 8, f)
    }
  }

  // ---- write path: `graft.xml` and its `xmlng2` name ----

  private val writeFormats = Seq("graft.xml", "xmlng2")

  private def freshDir(): String =
    Files.createTempDirectory("graft_v2w").resolve("out").toString

  private def write(format: String, df: DataFrame, out: String,
      extra: (String, String)*): Unit = {
    var w = df.write.format(format)
      .option("rowTag", "r").option("rootTag", "rows").mode("overwrite")
    extra.foreach { case (k, v) => w = w.option(k, v) }
    w.save(out)
  }

  private def partFiles(out: String): Seq[String] =
    new java.io.File(out).listFiles.map(_.getName).filter(_.startsWith("part-")).sorted.toSeq

  private def readBack(out: String): DataFrame =
    spark.read.format("xmlng").option("rowTag", "r").schema(schema).load(out)

  test("v2 write: empty dataset still publishes a readable skeleton") {
    writeFormats.foreach { f =>
      val out = freshDir()
      write(f, v1.limit(0).repartition(3), out)
      assert(readBack(out).count() === 0, f)
    }
  }

  test("v2 write: gzip codec compresses parts that read back identically") {
    writeFormats.foreach { f =>
      val out = freshDir()
      write(f, v1.where(col("n") < 50), out, "codec" -> "gzip")
      val parts = partFiles(out)
      assert(parts.nonEmpty && parts.forall(_.endsWith(".gz")), s"$f: $parts")
      assert(sorted(readBack(out)) === sorted(v1.where(col("n") < 50)), f)
    }
  }

  test("v2 write: 64 partitions publish 64 parts, every row exactly once") {
    writeFormats.foreach { f =>
      val out = freshDir()
      write(f, v1.repartition(64), out)
      val parts = partFiles(out)
      assert(parts.length === 64, s"$f: ${parts.length} parts")
      // names carry the zero-padded partition id, then the write's id
      assert(parts.head.startsWith("part-00000-") && parts.last.startsWith("part-00063-") &&
        parts.forall(_.endsWith(".xml")), s"$f: $parts")
      val ids = readBack(out).select("_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === (0L until 1000L), f)
    }
  }

  test("v2 write: bad charset/codec fail on the driver at plan time") {
    writeFormats.foreach { f =>
      // Overwrite targets that already hold data: a refused write must
      // leave it in place.
      val out = freshDir()
      write(f, v1.where(col("n") < 5), out)
      val e1 = intercept[Exception] {
        write(f, v1.limit(1), out, "charset" -> "no-such-charset")
      }
      assert(e1.toString.toLowerCase.contains("charset"), e1.toString)
      val e2 = intercept[Exception] {
        write(f, v1.limit(1), out, "codec" -> "no.such.Codec")
      }
      assert(e2.toString.contains("no.such.Codec"), e2.toString)
      assert(readBack(out).count() === 5, s"$f: a failed overwrite lost the old output")
    }
  }
}
