package graft.xml

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-xml-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  /** A session of [[spark]] whose file scans split at `bytes`
   *  (`spark.sql.files.maxPartitionBytes`), leaving the shared one as it is. */
  def splitAt(bytes: Long): SparkSession = {
    val session = spark.newSession()
    session.conf.set("spark.sql.files.maxPartitionBytes", bytes)
    session
  }
}

class XmlSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark
  private var tmp: Path = _

  override def beforeAll(): Unit = {
    tmp = Files.createTempDirectory("graft-xml-suite")
  }

  private def writeFixture(name: String, content: String): String = {
    val f = tmp.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  private val carsXml =
    """<ROWSET>
      |  <ROW>
      |    <year>2012</year><make>Tesla</make><model>S</model><comment>No comment</comment>
      |  </ROW>
      |  <ROW>
      |    <year>1997</year><make>Ford</make><model>E350</model><comment>Get one</comment>
      |  </ROW>
      |  <ROW>
      |    <year>2015</year><make>Chevy</make><model>Volt</model><comment/>
      |  </ROW>
      |</ROWSET>
      |""".stripMargin

  test("flat records: inferred schema, name-sorted, values parsed") {
    val path = writeFixture("cars.xml", carsXml)
    val df = spark.read.format("graft.xml").option("rowTag", "ROW").load(path)
    assert(df.schema.fieldNames.toSeq ===
      Seq("comment", "make", "model", "year"))
    assert(df.schema("year").dataType === LongType)
    assert(df.count() === 3)
    val r = df.filter(col("year") === 2012).select("comment", "year").collect()
    assert(r.toSeq === Seq(Row("No comment", 2012L)))
  }

  test("projection pushdown reaches the scan (PrunedScan)") {
    val path = writeFixture("cars2.xml", carsXml)
    val df = spark.read.format("graft.xml").option("rowTag", "ROW").load(path)
    val plan = df.select("year").queryExecution.executedPlan.toString
    assert(plan.contains("year"))
    assert(df.select("year").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1997L, 2012L, 2015L))
  }

  test("attributes, valueTag, arrays and nested structs") {
    val xml =
      """<catalog>
        |  <book id="bk101">
        |    <author>A One</author>
        |    <price unit="$">44.95</price>
        |    <tags><tag>t1</tag><tag>t2</tag></tags>
        |    <pub><year>2000</year><city>NYC</city></pub>
        |  </book>
        |  <book id="bk102">
        |    <author>B Two</author>
        |    <price unit="e">5.95</price>
        |    <tags><tag>t3</tag></tags>
        |    <pub><year>2001</year><city>SF</city></pub>
        |  </book>
        |</catalog>
        |""".stripMargin
    val path = writeFixture("books.xml", xml)
    val df = spark.read.format("graft.xml").option("rowTag", "book").load(path)
    assert(df.schema("_id").dataType === StringType)
    val price = df.schema("price").dataType.asInstanceOf[StructType]
    assert(price("_VALUE").dataType === DoubleType)
    assert(price("_unit").dataType === StringType)
    val rows = df.select("_id", "price._VALUE", "price._unit", "pub.city")
      .orderBy("_id").collect()
    assert(rows.toSeq === Seq(
      Row("bk101", 44.95, "$", "NYC"),
      Row("bk102", 5.95, "e", "SF")))
    val tags = df.select(explode(col("tags.tag"))).collect().map(_.getString(0)).sorted
    assert(tags.toSeq === Seq("t1", "t2", "t3"))
  }

  test("empty element semantics: null for numbers, empty string for strings") {
    val path = writeFixture("cars3.xml", carsXml)
    val df = spark.read.format("graft.xml").option("rowTag", "ROW").load(path)
    val volt = df.filter(col("model") === "Volt").select("comment").head()
    assert(volt.getString(0) === "")
    val df2 = spark.read.format("graft.xml")
      .option("rowTag", "ROW").option("treatEmptyValuesAsNulls", "true").load(path)
    assert(df2.filter(col("model") === "Volt").select("comment").head().isNullAt(0))
  }

  test("parse modes: PERMISSIVE partial, DROPMALFORMED, FAILFAST") {
    val xml =
      """<ROWSET>
        |  <ROW><a>1</a><b>x</b></ROW>
        |  <ROW><a>oops</a><b>y</b></ROW>
        |</ROWSET>
        |""".stripMargin
    val path = writeFixture("malformed.xml", xml)
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("_corrupt_record", StringType)))

    val permissive = spark.read.format("graft.xml").schema(schema)
      .option("rowTag", "ROW").load(path).orderBy("b").collect()
    assert(permissive.length === 2)
    assert(permissive(1).isNullAt(0) && permissive(1).getString(1) === "y")
    assert(!permissive(1).isNullAt(2))

    val dropped = spark.read.format("graft.xml")
      .schema(StructType(schema.dropRight(1)))
      .option("rowTag", "ROW").option("mode", "DROPMALFORMED").load(path).collect()
    assert(dropped.length === 1)

    intercept[Exception] {
      spark.read.format("graft.xml")
        .schema(StructType(schema.dropRight(1)))
        .option("rowTag", "ROW").option("mode", "FAILFAST").load(path).collect()
    }
  }

  test("malformedness is judged on the full row even under column pruning") {
    val xml =
      """<ROWSET>
        |  <ROW><a>1</a><b>x</b></ROW>
        |  <ROW><a>oops</a><b>y</b></ROW>
        |</ROWSET>
        |""".stripMargin
    val path = writeFixture("malformed_pruned.xml", xml)
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("_corrupt_record", StringType)))

    // Selecting only the corrupt column must still attempt every cast.
    val corrupt = spark.read.format("graft.xml").schema(schema)
      .option("rowTag", "ROW").load(path)
      .select("_corrupt_record").collect()
    assert(corrupt.count(!_.isNullAt(0)) === 1)

    // DROPMALFORMED must drop the bad row even when only `b` is selected.
    val survivors = spark.read.format("graft.xml")
      .schema(StructType(schema.dropRight(1)))
      .option("rowTag", "ROW").option("mode", "DROPMALFORMED").load(path)
      .select("b").collect()
    assert(survivors.map(_.getString(0)).toSeq === Seq("x"))
  }

  test("roundtrip write → read preserves typed values") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha & <beta>", 1.5, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123")),
      (2L, "gamma \"quoted\"", -2.25, java.sql.Timestamp.valueOf("2020-12-31 23:59:59"))
    ).toDF("id", "name", "score", "ts")
    val out = tmp.resolve("roundtrip-out").toString
    df.write.format("graft.xml").mode("overwrite")
      .option("rowTag", "item").option("rootTag", "items").save(out)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("ts", TimestampType)))
    val back = spark.read.format("graft.xml").schema(schema)
      .option("rowTag", "item").load(out)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
  }

  test("roundtrip with inferred schema") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    val out = tmp.resolve("roundtrip-infer").toString
    df.write.format("graft.xml").mode("overwrite").option("rowTag", "r").save(out)
    val back = spark.read.format("graft.xml").option("rowTag", "r").load(out)
    assert(back.select("id", "name", "score").orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
  }

  test("arrays and attributes roundtrip") {
    import spark.implicits._
    val df = Seq((Seq("x", "y"), "v1", 7L), (Seq("z"), "v2", 8L))
      .toDF("tags", "_attr", "n")
    val out = tmp.resolve("roundtrip-arr").toString
    df.write.format("graft.xml").mode("overwrite").option("rowTag", "r").save(out)
    val back = spark.read.format("graft.xml").option("rowTag", "r").load(out)
    assert(back.schema("_attr").dataType === StringType)
    val rows = back.select("n", "_attr", "tags").orderBy("n").collect()
    assert(rows(0) === Row(7L, "v1", Seq("x", "y")))
    assert(rows(1) === Row(8L, "v2", Seq("z")))
  }

  test("record splitting across forced small blocks") {
    val n = 500
    val big = new StringBuilder("<ROWS>\n")
    (0 until n).foreach { i =>
      big ++= s"""  <ROW id="$i"><v>${"x" * (i % 50)}</v><k>$i</k></ROW>\n"""
    }
    big ++= "</ROWS>\n"
    val path = writeFixture("big.xml", big.result())
    // Force many partitions with a 2 KB split size.
    val df = SparkTestSession.splitAt(2048).read.format("graft.xml").option("rowTag", "ROW")
      .option("mode", "FAILFAST")
      .load(path)
    val cnt = df.count()
    assert(cnt === n)
    val ks = df.select("k").collect().map(_.getLong(0)).sorted
    assert(ks.toSeq === (0 until n).map(_.toLong))
  }

  test("nested same-name tags and self-closing rows survive splitting") {
    val xml =
      """<ROWS>
        |  <ROW><k>1</k><ROW><k>2</k></ROW></ROW>
        |  <ROW/>
        |  <ROW attr="z"/>
        |  <ROW><k>3</k></ROW>
        |</ROWS>
        |""".stripMargin
    val path = writeFixture("nested.xml", xml)
    val df = spark.read.format("graft.xml").option("rowTag", "ROW").load(path)
    assert(df.count() === 4)
  }

  test("gzip compressed input reads as a single split") {
    import java.util.zip.GZIPOutputStream
    val f = tmp.resolve("cars.xml.gz")
    val os = new GZIPOutputStream(Files.newOutputStream(f))
    os.write(carsXml.getBytes("UTF-8")); os.close()
    val df = spark.read.format("graft.xml").option("rowTag", "ROW").load(f.toString)
    assert(df.count() === 3)
  }

  test("bzip2 compressed input splits by block and loses nothing") {
    // ~4 MB of semi-random records → several 900 KB bzip2 blocks. With a
    // small max split size the file must fan out to >1 non-empty partition
    // (BYBLOCK splitting), and the id set must come back exactly — records
    // straddling block boundaries are neither lost nor duplicated.
    val n = 40000
    val rnd = new scala.util.Random(7)
    val sb = new StringBuilder(5 << 20)
    sb.append("<rows>\n")
    (0 until n).foreach { i =>
      sb.append(s"<row><id>$i</id><v>${rnd.alphanumeric.take(64).mkString}</v></row>\n")
    }
    sb.append("</rows>\n")
    val f = tmp.resolve("big.xml.bz2")
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val os = codec.createOutputStream(Files.newOutputStream(f))
    os.write(sb.toString.getBytes("UTF-8")); os.close()

    val df = SparkTestSession.splitAt(65536).read.format("graft.xml").option("rowTag", "row")
      .schema("id LONG, v STRING").load(f.toString)
    val perPart = df.select("id").rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size))).collect()
    assert(perPart.count(_._2 > 0) >= 2,
      s"expected multiple non-empty splits, got ${perPart.mkString(",")}")
    val ids = df.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.length === n)
    assert(ids.toSeq === (0 until n).map(_.toLong))
  }

  test("from_xml parses a string column; malformed → null struct") {
    import spark.implicits._
    val df = Seq(
      "<r><k>10</k><s>ok</s></r>",
      "<r><k>20</k><s>fine</s></r>",
      "not xml at all").toDF("payload")
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    val parsed = df.select(graft.xml.from_xml(col("payload"), schema).as("p"))
    val rows = parsed.select("p.k", "p.s").collect()
    assert(rows.count(r => !r.isNullAt(0)) === 2)
    assert(rows.exists(r => r.isNullAt(0) && r.isNullAt(1)))
    assert(parsed.filter(col("p.k") === 10).select("p.s").head().getString(0) === "ok")
  }

  test("a date in the 1582 calendar gap reads as that day, from a file and through from_xml") {
    // java.sql.Date's hybrid Julian/Gregorian calendar skips 1582-10-05..14;
    // DateType is proleptic Gregorian, where those days exist.
    import spark.implicits._
    val values = Seq("1582-10-10", "1582-10-04", "1582-10-12+01:00")
    val path = writeFixture("gap_dates.xml",
      values.map(v => s"<ROW><d>$v</d></ROW>").mkString("<ROWS>", "", "</ROWS>"))
    val schema = StructType(Seq(StructField("d", DateType)))
    val fromFile = spark.read.format("graft.xml").schema(schema)
      .option("rowTag", "ROW").load(path)
    val fromColumn = values.map(v => s"<r><d>$v</d></r>").toDF("x")
      .select(graft.xml.from_xml(col("x"), schema).as("p")).select("p.d")
    for (df <- Seq(fromFile, fromColumn)) {
      val days = df.select(expr("unix_date(d)"), col("d").cast("string")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(days === Set((-141432, "1582-10-10"), (-141438, "1582-10-04"),
        (-141430, "1582-10-12")))
    }
  }

  test("text split by a comment or processing instruction parses as one value") {
    val schema = StructType(Seq(
      StructField("_a", LongType), StructField("_VALUE", StringType),
      StructField("t", LongType), StructField("s", StringType), StructField("m", StringType),
      StructField("u", StructType(Seq(
        StructField("_k", LongType), StructField("_VALUE", StringType))))))
    val row = graft.xml.from_xml_string(
      """<r a="1">x<!--c-->y<t>12<!-- c -->34</t><s>ab<?pi?>cd</s>""" +
        """<m>a<!--x-->b<i>c</i>d</m><u k="2">p<!--c-->q</u></r>""", schema)
    assert(row === Row(1L, "xy", 1234L, "abcd", "ab<i>c</i>d", Row(2L, "pq")))
  }

  test("a timestamp beyond the microsecond range fails its cast instead of wrapping") {
    // Year 300000 is past Long microseconds since the epoch (~294,000 years).
    val far = Seq(
      "<ROW><k>1</k><ts>+300000-01-01T00:00:00Z</ts></ROW>",
      "<ROW><k>2</k><ntz>+300000-01-01T00:00:00</ntz></ROW>")
    val fine = "<ROW><k>3</k><ts>2024-01-02T03:04:05Z</ts><ntz>2024-01-02T03:04:05</ntz></ROW>"
    val schema = StructType(Seq(StructField("k", LongType), StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType), StructField("_corrupt_record", StringType)))
    val path = writeFixture("far_future.xml", (far :+ fine).mkString("<ROWS>", "\n", "</ROWS>"))
    val rows = spark.read.format("graft.xml").schema(schema).option("rowTag", "ROW")
      .load(path).orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(1) && rows(0).getString(3).contains("+300000"))
    assert(rows(1).isNullAt(2) && rows(1).getString(3).contains("+300000"))
    assert(!rows(2).isNullAt(1) && !rows(2).isNullAt(2) && rows(2).isNullAt(3))
    for ((record, i) <- far.zipWithIndex) {
      val one = writeFixture(s"far_future_$i.xml", s"<ROWS>$record</ROWS>")
      val e = intercept[Exception] {
        spark.read.format("graft.xml").schema(StructType(schema.dropRight(1)))
          .option("rowTag", "ROW").option("mode", "FAILFAST").load(one).collect()
      }
      // The scan names the file it failed on; the parser's reason is in the
      // cause chain.
      assert(e.getMessage.contains(s"far_future_$i.xml"), e.getMessage)
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("Malformed record")),
        causes.map(_.toString).mkString("\n"))
    }
  }

  test("MapType field reads element children and attributes as map entries") {
    // reference: src/test/.../XmlSuite.scala:1278-1292 (map-attribute.xml)
    val path = writeFixture("map_attr.xml",
      """<?xml version="1.0"?>
        |<PMSetup startTime="2020-11-06T16:30:00+00:00" interval="15">
        |    <PMTarget measurementType="TYPE1">
        |        <M1>0</M1>
        |        <M2>7</M2>
        |    </PMTarget>
        |</PMSetup>
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("_startTime", StringType),
      StructField("_interval", StringType),
      StructField("PMTarget", MapType(StringType, StringType))))
    val df = spark.read.format("graft.xml").option("rowTag", "PMSetup")
      .schema(schema).load(path).select("PMTarget")
    val map = df.collect().head.getAs[Map[String, String]](0)
    assert(map.contains("_measurementType") && map("_measurementType") === "TYPE1")
    assert(map("M1") === "0" && map("M2") === "7")

    // And the write side: a map column serializes back to elements +
    // attribute-prefixed keys, re-readable under the same schema.
    import spark.implicits._
    val src = Seq((Map("_a" -> "x", "k1" -> "1", "k2" -> "2"), "t"))
      .toDF("m", "tag")
    val out = tmp.resolve("map_out").toString
    src.write.format("graft.xml").option("rowTag", "row").save(out)
    val back = spark.read.format("graft.xml").option("rowTag", "row")
      .schema(StructType(Seq(
        StructField("m", MapType(StringType, StringType)),
        StructField("tag", StringType))))
      .load(out)
    val m2 = back.collect().head.getAs[Map[String, String]](0)
    assert(m2 === Map("_a" -> "x", "k1" -> "1", "k2" -> "2"))
  }

  test("XmlReader builder: xmlFile, xmlDataset, xmlRdd with options") {
    import spark.implicits._
    val path = writeFixture("cars_reader.xml", carsXml)
    val fromFile = new XmlReader().withRowTag("ROW").xmlFile(spark, path)
    assert(fromFile.count() === 3)

    val ds = Seq("<r><k>1</k><v> padded </v></r>", "<r><k>2</k></r>").toDS()
    val fromDs = new XmlReader().withRowTag("r").withIgnoreSurroundingSpaces(true)
      .xmlDataset(spark, ds)
    assert(fromDs.select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    assert(fromDs.filter(col("k") === 1).select("v").head().getString(0) === "padded")

    val fromRdd = new XmlReader().withRowTag("r")
      .withSchema(StructType(Seq(StructField("k", LongType))))
      .xmlRdd(spark, spark.sparkContext.parallelize(Seq("<r><k>9</k></r>")))
    assert(fromRdd.head().getLong(0) === 9L)
  }

  test("to_xml serializes a struct column; attributes, arrays, null omission") {
    import spark.implicits._
    val df = Seq((7L, "a&b", Seq(1, 2), Option.empty[String]))
      .toDF("id", "name", "xs", "note")
      .select(struct(col("id"), col("name"), col("xs"), col("note")).as("s"))
    // Default: compact, rowTag ROW, nulls omitted, text escaped.
    val s = df.select(graft.xml.to_xml(col("s")).as("x")).head().getString(0)
    assert(s === "<ROW><id>7</id><name>a&amp;b</name><xs>1</xs><xs>2</xs></ROW>")
    // rowTag + attributePrefix behave like the file sink.
    val attrDf = Seq(("v1", 3L)).toDF("_ver", "n")
      .select(struct(col("_ver"), col("n")).as("s"))
    val t = attrDf.select(
      graft.xml.to_xml(col("s"), Map("rowTag" -> "rec")).as("x")).head().getString(0)
    assert(t === """<rec ver="v1"><n>3</n></rec>""")
    // Null struct → null string.
    val nullRow = spark.sql("SELECT CAST(NULL AS STRUCT<a: INT>) AS s")
      .select(graft.xml.to_xml(col("s"))).head()
    assert(nullRow.isNullAt(0))
  }

  test("to_xml/from_xml roundtrip is the identity on structs") {
    import spark.implicits._
    val src = Seq((1L, "plain"), (2L, "esc <&> \"q\""), (3L, null))
      .toDF("k", "s")
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    val back = src
      .select(struct(col("k"), col("s")).as("orig"))
      .withColumn("xml", graft.xml.to_xml(col("orig")))
      .withColumn("re", graft.xml.from_xml(col("xml"), schema))
      .where(col("re.k") <=> col("orig.k") && col("re.s") <=> col("orig.s"))
    assert(back.count() === 3)
  }

  test("schema_of_xml infers from a dataset of strings") {
    import spark.implicits._
    val ds = Seq("<r><a>1</a><b>x</b></r>", "<r><a>2.5</a><c>true</c></r>").toDS()
    val st = graft.xml.schema_of_xml(ds)
    assert(st("a").dataType === DoubleType)
    assert(st("b").dataType === StringType)
    assert(st("c").dataType === BooleanType)
  }

  test("SQL over a temp view backed by the XML relation") {
    val path = writeFixture("cars4.xml", carsXml)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW cars_xml
         |USING graft.xml
         |OPTIONS (path "$path", rowTag "ROW")""".stripMargin)
    val out = spark.sql(
      "SELECT make, count(*) AS n FROM cars_xml WHERE year > 1990 GROUP BY make ORDER BY make")
      .collect()
    assert(out.toSeq === Seq(Row("Chevy", 1L), Row("Ford", 1L), Row("Tesla", 1L)))
  }

  test("wildcard column captures unmatched elements") {
    val xml =
      """<ROWS>
        |  <ROW><a>1</a><extra><x>1</x></extra></ROW>
        |  <ROW><a>2</a></ROW>
        |</ROWS>""".stripMargin
    val path = writeFixture("wild.xml", xml)
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("xs_any", StringType)))
    val df = spark.read.format("graft.xml").schema(schema)
      .option("rowTag", "ROW").load(path)
    val withExtra = df.filter(col("a") === 1).head()
    assert(withExtra.getString(1).contains("<x>1</x>"))
  }

  test("mixed content: declared string field captures raw inner XML") {
    val xml = "<ROWS><ROW><a>hello <b>world</b> tail</a></ROW></ROWS>"
    val path = writeFixture("mixed.xml", xml)
    val schema = StructType(Seq(StructField("a", StringType)))
    val df = spark.read.format("graft.xml").schema(schema)
      .option("rowTag", "ROW").load(path)
    val v = df.head().getString(0)
    assert(v.contains("<b>world</b>"))
    assert(v.contains("hello"))
  }

  test("null string field: omitted on write, round-trips as null") {
    import spark.implicits._
    val df = Seq((1L, Option("x")), (2L, Option.empty[String])).toDF("id", "s")
    val out = tmp.resolve("null-omit").toString
    df.write.format("graft.xml").mode("overwrite").option("rowTag", "r").save(out)
    val text = Files.list(new java.io.File(out).toPath).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(Files.readString).mkString
    assert(!text.contains("<s/>"), "null field must be omitted, not emptied")
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val back = spark.read.format("graft.xml").schema(schema).option("rowTag", "r").load(out)
    assert(back.filter(col("id") === 2).head().isNullAt(1))
    assert(back.filter(col("id") === 1).head().getString(1) === "x")
  }

  test("null field with nullValue configured writes the representation") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String])).toDF("id", "s")
    val out = tmp.resolve("null-rep").toString
    df.write.format("graft.xml").mode("overwrite")
      .option("rowTag", "r").option("nullValue", "NA").save(out)
    val back = spark.read.format("graft.xml")
      .option("rowTag", "r").option("nullValue", "NA").load(out)
    assert(back.select("s").head().isNullAt(0))
  }

  test("rootTag with inline attributes opens with attrs, closes with name only") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val out = tmp.resolve("roottag-attrs").toString
    df.write.format("graft.xml").mode("overwrite")
      .option("rowTag", "book").option("rootTag", "books count=\"2\"").save(out)
    val text = Files.list(new java.io.File(out).toPath).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(Files.readString).mkString
    assert(text.contains("<books count=\"2\">"))
    assert(text.contains("</books>"))
    assert(!text.contains("</books count"))
    val back = spark.read.format("graft.xml").option("rowTag", "book").load(out)
    assert(back.count() === 2)
  }

  test("map keys with attribute prefix write as attributes and round-trip") {
    import spark.implicits._
    val df = Seq(
      (1L, Map("_id" -> "k1", "name" -> "alpha")),
      (2L, Map("_id" -> "k2", "name" -> "beta"))).toDF("n", "m")
    val out = tmp.resolve("map-attrs").toString
    df.write.format("graft.xml").mode("overwrite").option("rowTag", "r").save(out)
    val text = Files.list(new java.io.File(out).toPath).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(Files.readString).mkString
    assert(text.contains("<m id=\"k1\">") || text.contains("<m id=\"k2\">"),
      s"map attr key must become an XML attribute, got: $text")
    assert(!text.contains("<_id>"))
    val back = spark.read.format("graft.xml").option("rowTag", "r").load(out)
    val m = back.filter(col("n") === 1).select("m._id", "m.name").head()
    assert(m === Row("k1", "alpha"))
  }

  test("from_xml_array accepts UnsafeArrayData and null elements") {
    import spark.implicits._
    val src = Seq(
      (1L, Seq("<r><k>1</k></r>", "<r><k>2</k></r>")),
      (2L, Seq("<r><k>3</k></r>", null))).toDF("id", "xs")
    val pq = tmp.resolve("fxa-parquet").toString
    src.write.mode("overwrite").parquet(pq)
    // Parquet scan + shuffle materializes the column as UnsafeArrayData.
    val df = spark.read.parquet(pq).repartition(2, col("id"))
    val elem = StructType(Seq(StructField("k", LongType)))
    val parsed = df.select(col("id"),
      graft.xml.from_xml_array(col("xs"), ArrayType(elem)).as("ps"))
    val r1 = parsed.filter(col("id") === 1).select(explode(col("ps")).as("p"))
      .select("p.k").collect().map(_.getLong(0)).sorted
    assert(r1.toSeq === Seq(1L, 2L))
    val r2 = parsed.filter(col("id") === 2).head().getSeq[Row](1)
    assert(r2.size === 2)
    assert(r2(1) === null)
  }

  test("ignoreNamespace strips prefixes") {
    val xml = "<ROWS><ns:ROW><ns:a>5</ns:a></ns:ROW></ROWS>"
    val path = writeFixture("ns.xml", xml)
    val df = spark.read.format("graft.xml")
      .option("rowTag", "ns:ROW").option("ignoreNamespace", "true").load(path)
    assert(df.schema.fieldNames.toSeq === Seq("a"))
    assert(df.head().getLong(0) === 5L)
  }
}
