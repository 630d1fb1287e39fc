package graft.xml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class XmlPartitionedSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Hadoop's committer requires a NON-existent output directory.
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_part").toString + "/out"

  test("partitioned write/read roundtrip; partition values live in the path only") {
    val dir = tmp()
    val df = Seq(
      (1L, "alpha", "s1"), (2L, "beta", "s1"),
      (3L, "gamma", "s2"), (4L, "delta", "s3")
    ).toDF("id", "body", "src")
    XmlPartitioned.write(df, dir, Seq("src"), Map("rowTag" -> "doc"))
    // layout: src=<v>/part files, each a complete XML document
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("src=s1", "src=s2", "src=s3"))
    val doc = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "src=s1").listFiles()
        .filter(_.getName.startsWith("part")).head.toPath))
    assert(doc.contains("<?xml") && doc.contains("<ROWS>") && doc.contains("</ROWS>"))
    assert(!doc.contains("s1"), "partition value must not repeat inside the document")
    val back = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"))
      .select("id", "body", "src")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(back === Seq((1L, "alpha", "s1"), (2L, "beta", "s1"),
      (3L, "gamma", "s2"), (4L, "delta", "s3")))
  }

  test("a partition filter prunes 1,000 directories to one under one scan") {
    val dir = tmp()
    val n = 1000
    val df = spark.range(0, 2L * n).select(col("id"), concat(lit("t"), col("id")).as("t"),
      format_string("p%04d", col("id") % n).as("src"))
    XmlPartitioned.write(df, dir, Seq("src"), Map("rowTag" -> "doc"))
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("src=")) === n)
    val dataSchema = org.apache.spark.sql.types.StructType(df.schema.fields.take(2))
    val all = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"), Some(dataSchema))
    def scans(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans(all).size === 1, s"one scan node:\n${all.queryExecution.sparkPlan}")
    assert(scans(all).head.selectedPartitions.partitionCount === n)
    val one = all.filter(col("src") === "p0042")
    val scan = scans(one)
    assert(scan.size === 1)
    assert(scan.head.selectedPartitions.partitionCount === 1,
      "the planner prunes the listing to the one matching directory")
    val files = scan.head.inputRDD.partitions.toSeq.flatMap {
      case p: org.apache.spark.sql.execution.datasources.FilePartition =>
        p.files.map(_.filePath.toString).toSeq
    }
    assert(files.size === 1 && files.head.contains("/src=p0042/"), files)
    assert(one.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(42L, 1042L))
  }

  test("multi-level partitions, special characters, and null values roundtrip") {
    val dir = tmp()
    val df = Seq(
      (1L, "a", "s 1/x", "en"),
      (2L, "b", null.asInstanceOf[String], "de"),
      (3L, "c", "s=2%", "de"),
      (4L, "d", "a\t,{x}", "ja"),
      (5L, "e", "\u65e5\u672c\u8a9e + caf\u00e9", "ja")
    ).toDF("id", "t", "src", "lang")
    XmlPartitioned.write(df, dir, Seq("src", "lang"), Map("rowTag" -> "doc"))
    // Every directory name is ASCII, whatever the values hold.
    val names = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(names.length === 5 && names.forall(_.forall(_ < 0x80)), names.mkString(" "))
    val back = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"))
      .select("id", "t", "src", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), r.getString(3))).sortBy(_._1).toSeq
    assert(back === Seq(
      (1L, "a", Some("s 1/x"), "en"),
      (2L, "b", None, "de"),
      (3L, "c", Some("s=2%"), "de"),
      (4L, "d", Some("a\t,{x}"), "ja"),
      (5L, "e", Some("\u65e5\u672c\u8a9e + caf\u00e9"), "ja")))
    val pruned = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"))
      .where(col("src") === "\u65e5\u672c\u8a9e + caf\u00e9")
    assert(pruned.select("id").collect().map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("untyped partition columns read back as the strings written, never retyped") {
    val dir = tmp()
    val df = Seq((1L, "a", "007", "2024-01-01"), (2L, "b", "1.50", "2024-01-02"))
      .toDF("id", "t", "src", "day")
    XmlPartitioned.write(df, dir, Seq("src", "day"), Map("rowTag" -> "doc"))
    val back = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"))
    assert(back.schema("src").dataType === org.apache.spark.sql.types.StringType)
    assert(back.schema("day").dataType === org.apache.spark.sql.types.StringType)
    assert(back.select("id", "src", "day").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq ===
      Seq((1L, "007", "2024-01-01"), (2L, "1.50", "2024-01-02")))
    // A schema that names a partition column still types it.
    val typed = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"),
      Some(org.apache.spark.sql.types.StructType.fromDDL("id LONG, t STRING, day DATE")))
    assert(typed.schema("day").dataType === org.apache.spark.sql.types.DateType)
    assert(typed.schema("src").dataType === org.apache.spark.sql.types.StringType)
    assert(typed.where(col("src") === "007").select("day").collect().head.getDate(0)
      .toString === "2024-01-01")
  }

  test("gzip-compressed partitioned layout roundtrips (stream codec, whole-file splits)") {
    val dir = tmp()
    val df = (0L until 30L).map(i => (i, s"body$i", s"g${i % 3}")).toDF("id", "t", "src")
    XmlPartitioned.write(df, dir, Seq("src"),
      Map("rowTag" -> "doc", "codec" -> "gzip"))
    val parts = new java.io.File(dir, "src=g0").listFiles()
      .filter(_.getName.startsWith("part")).map(_.getName)
    assert(parts.nonEmpty && parts.forall(_.endsWith(".gz")), parts.mkString(","))
    val back = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"))
    assert(back.count() === 30)
    assert(back.filter(col("src") === "g1").count() === 10)
  }

  test("write rejects empty or unknown partition columns") {
    val df = Seq((1L, "x", "s")).toDF("id", "t", "src")
    intercept[IllegalArgumentException](
      XmlPartitioned.write(df, tmp(), Seq.empty, Map("rowTag" -> "doc")))
    intercept[IllegalArgumentException](
      XmlPartitioned.write(df, tmp(), Seq("nope"), Map("rowTag" -> "doc")))
    intercept[IllegalArgumentException](
      XmlPartitioned.write(df.select("src"), tmp(), Seq("src"), Map("rowTag" -> "doc")))
  }
}
