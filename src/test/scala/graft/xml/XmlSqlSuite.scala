package graft.xml

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** DDL / INSERT OVERWRITE / charset / compression coverage. */
class XmlSqlSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("INSERT OVERWRITE through InsertableRelation") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-sql")
    val target = tmp.resolve("target").toString
    // Seed the target so the relation can infer a schema.
    Seq((0L, "seed")).toDF("k", "v")
      .write.format("graft.xml").option("rowTag", "r").save(target)

    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW xml_target
         |USING graft.xml
         |OPTIONS (path "$target", rowTag "r")""".stripMargin)
    Seq((1L, "one"), (2L, "two")).toDF("k", "v").createOrReplaceTempView("src")

    spark.sql("INSERT OVERWRITE TABLE xml_target SELECT * FROM src")
    // Re-create the view: the overwrite replaced the files.
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW xml_target2
         |USING graft.xml
         |OPTIONS (path "$target", rowTag "r")""".stripMargin)
    val rows = spark.sql("SELECT k, v FROM xml_target2 ORDER BY k").collect()
    assert(rows.toSeq === Seq(Row(1L, "one"), Row(2L, "two")))

    // A bad codec fails the overwrite before the old files are deleted:
    // the view's relation resolves, and its options are checked, when the
    // view is created, before any INSERT can plan.
    val e = intercept[Exception] {
      spark.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW xml_target_bad
           |USING graft.xml
           |OPTIONS (path "$target", rowTag "r", codec "no.such.Codec")""".stripMargin)
      spark.sql("INSERT OVERWRITE TABLE xml_target_bad SELECT * FROM src")
    }
    assert(e.toString.contains("no.such.Codec"), e.toString)
    assert(spark.sql("SELECT k, v FROM xml_target2 ORDER BY k").collect().toSeq === rows.toSeq)
  }

  test("Append writes and INSERT INTO add part files beside the old ones") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-append").resolve("t").toString
    Seq((1L, "one")).toDF("k", "v")
      .write.format("graft.xml").mode("append").option("rowTag", "r").save(target)
    Seq((2L, "two")).toDF("k", "v")
      .write.format("xmlng").mode("append").option("rowTag", "r").save(target)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW xml_append
         |(k BIGINT, v STRING)
         |USING xmlng2
         |OPTIONS (path "$target", rowTag "r")""".stripMargin)
    spark.sql("INSERT INTO xml_append VALUES (3, 'three')")
    val back = spark.read.format("graft.xml").option("rowTag", "r").schema("k BIGINT, v STRING")
      .load(target).orderBy("k").collect().toSeq
    assert(back === Seq(Row(1L, "one"), Row(2L, "two"), Row(3L, "three")))
  }

  test("SaveMode.ErrorIfExists and Ignore") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-savemode")
    val path = tmp.resolve("d").toString
    val df = Seq((1L, "a")).toDF("k", "v")
    df.write.format("graft.xml").option("rowTag", "r").save(path)
    intercept[Exception] {
      df.write.format("graft.xml").option("rowTag", "r").save(path)
    }
    // Ignore: silently keeps existing data
    Seq((9L, "z")).toDF("k", "v")
      .write.format("graft.xml").mode("ignore").option("rowTag", "r").save(path)
    val back = spark.read.format("graft.xml").option("rowTag", "r").load(path)
    assert(back.collect().toSeq === Seq(Row(1L, "a")))
  }

  test("ISO-8859-1 charset read") {
    val tmp = Files.createTempDirectory("graft-charset")
    val f = tmp.resolve("latin.xml")
    val content = "<ROWS><ROW><name>café</name></ROW></ROWS>"
    Files.write(f, content.getBytes("ISO-8859-1"))
    val df = spark.read.format("graft.xml")
      .option("rowTag", "ROW").option("charset", "ISO-8859-1").load(f.toString)
    assert(df.head().getString(0) === "café")
  }

  test("gzip-compressed write roundtrip") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-codec")
    val path = tmp.resolve("gz").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    df.write.format("graft.xml").option("rowTag", "r").option("codec", "gzip").save(path)
    val parts = new java.io.File(path).listFiles.filter(_.getName.startsWith("part"))
    assert(parts.forall(_.getName.endsWith(".gz")))
    val back = spark.read.format("graft.xml").option("rowTag", "r").load(path)
    assert(back.orderBy("k").collect().toSeq === df.orderBy("k").collect().toSeq)
  }

  test("samplingRatio limits inference input but read returns all rows") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-sampling")
    val path = tmp.resolve("s").toString
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .write.format("graft.xml").option("rowTag", "r").save(path)
    val df = spark.read.format("graft.xml")
      .option("rowTag", "r").option("samplingRatio", "0.1").load(path)
    assert(df.schema.fieldNames.sorted.toSeq === Seq("k", "v"))
    assert(df.count() === 1000)
  }

  test("excludeAttribute drops attributes from inference") {
    val tmp = Files.createTempDirectory("graft-exattr")
    val f = tmp.resolve("a.xml")
    Files.writeString(f, """<ROWS><ROW id="1"><v>x</v></ROW></ROWS>""")
    val df = spark.read.format("graft.xml")
      .option("rowTag", "ROW").option("excludeAttribute", "true").load(f.toString)
    assert(df.schema.fieldNames.toSeq === Seq("v"))
  }
}

/** Reference-parity extras: concurrent reads, globs, wildcard arrays. */
class XmlConcurrencySuite extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("concurrent reads of the same relation from multiple threads") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-mt")
    val f = tmp.resolve("mt.xml")
    val content = new StringBuilder("<ROWS>")
    (0 until 200).foreach(i => content ++= s"<ROW><k>$i</k></ROW>")
    content ++= "</ROWS>"
    Files.writeString(f, content.result())
    val df = spark.read.format("graft.xml").option("rowTag", "ROW").load(f.toString)
    val threads = (0 until 4).map { _ =>
      new Thread {
        @volatile var result = -1L
        override def run(): Unit = { result = df.count() }
      }
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(threads.forall(_.result === 200L))
  }

  test("glob over multiple files unions records") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-glob")
    (1 to 3).foreach { i =>
      Files.writeString(tmp.resolve(s"part$i.xml"),
        s"<ROWS><ROW><k>$i</k></ROW><ROW><k>${i * 10}</k></ROW></ROWS>")
    }
    val df = spark.read.format("graft.xml").option("rowTag", "ROW")
      .load(tmp.toString + "/*.xml")
    assert(df.count() === 6)
    assert(df.agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0) === 66L)
  }

  test("wildcard column as array captures multiple unmatched elements") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft-wild2")
    val f = tmp.resolve("w.xml")
    Files.writeString(f,
      "<ROWS><ROW><a>1</a><x1><u>1</u></x1><x2>t</x2></ROW></ROWS>")
    val schema = StructType(Seq(
      StructField("a", LongType),
      StructField("xs_any", ArrayType(StringType))))
    val df = spark.read.format("graft.xml").schema(schema)
      .option("rowTag", "ROW").load(f.toString)
    val arr = df.head().getSeq[String](1)
    assert(arr.length === 2)
    assert(arr.exists(_.contains("<u>1</u>")))
    assert(arr.exists(_.contains("x2")))
  }
}
