package graft.xml

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-shape conformance: the structural challenges from FIXTURES.md. */
class XmlConformanceSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** All lines of a write's part files, with every handle closed. */
  private def partFileLines(dir: String): Seq[String] = {
    val stream = Files.list(java.nio.file.Paths.get(dir))
    val parts =
      try stream.toArray.map(_.toString)
        .filter(p => p.contains("part-") && !p.endsWith(".crc")).toSeq
      finally stream.close()
    parts.flatMap { p =>
      val src = scala.io.Source.fromFile(p)
      try src.getLines().toList finally src.close()
    }
  }

  private def load(
      content: String,
      options: Map[String, String],
      schema: Option[StructType] = None): org.apache.spark.sql.DataFrame = {
    val f = Files.createTempFile("graft-conf", ".xml")
    Files.writeString(f, content)
    val reader = options.foldLeft(spark.read.format("graft.xml")) {
      case (r, (k, v)) => r.option(k, v)
    }
    schema.fold(reader)(reader.schema).load(f.toString)
  }

  test("ages: attribute on scalar element becomes valueTag struct") {
    val df = load(
      """<people>
        |  <person><age born="1990-02-24">25</age><name>Ana</name></person>
        |  <person><age born="1985-01-01">31</age><name>Ben</name></person>
        |</people>""".stripMargin,
      Map("rowTag" -> "person"))
    val age = df.schema("age").dataType.asInstanceOf[StructType]
    assert(age("_VALUE").dataType === LongType)
    assert(age("_born").dataType === DateType)
    val r = df.filter(col("name") === "Ana").select("age._VALUE", "age._born").head()
    assert(r === Row(25L, java.sql.Date.valueOf("1990-02-24")))
  }

  test("nested array of structs (books-complicated shape)") {
    val df = load(
      """<catalog>
        |  <book>
        |    <genre><genreid>1</genreid><name>Computer</name></genre>
        |    <publish_dates>
        |      <publish_date><day>1</day><month>10</month><year>2000</year></publish_date>
        |      <publish_date><day>2</day><month>11</month><year>2001</year></publish_date>
        |    </publish_dates>
        |  </book>
        |</catalog>""".stripMargin,
      Map("rowTag" -> "book"))
    assert(df.schema("genre").dataType.asInstanceOf[StructType]("genreid").dataType === LongType)
    val pd = df.schema("publish_dates").dataType.asInstanceOf[StructType]
    assert(pd("publish_date").dataType.isInstanceOf[ArrayType])
    val years = df.select(explode(col("publish_dates.publish_date.year"))).collect()
      .map(_.getLong(0)).sorted
    assert(years.toSeq === Seq(2000L, 2001L))
  }

  test("null/empty/whitespace nested structs") {
    val df = load(
      """<ROWS>
        |  <ROW><k>1</k><s><a>x</a></s></ROW>
        |  <ROW><k>2</k><s></s></ROW>
        |  <ROW><k>3</k></ROW>
        |</ROWS>""".stripMargin,
      Map("rowTag" -> "ROW"))
    val rows = df.orderBy("k").select("k", "s.a").collect()
    assert(rows(0) === Row(1L, "x"))
    assert(rows(0).getString(1) === "x")
    assert(rows(1).isNullAt(1) || rows(1).getString(1) == null) // empty struct → null field
    assert(rows(2).isNullAt(1))
  }

  test("unicode row tag and element content") {
    val df = load(
      "<目録><書><題>星</題><年>2020</年></書><書><題>月</題><年>2021</年></書></目録>",
      Map("rowTag" -> "書"))
    assert(df.schema.fieldNames.toSeq === Seq("年", "題"))
    assert(df.orderBy("年").collect().map(_.getString(1)).toSeq === Seq("星", "月"))
  }

  test("self-closing tag yields null for declared numeric field") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("k", LongType)))
    val f = Files.createTempFile("graft-selfclose", ".xml")
    Files.writeString(f, "<R><W><k>1</k><a/></W><W><k>2</k><a>5</a></W></R>")
    val df = spark.read.format("graft.xml").schema(schema).option("rowTag", "W").load(f.toString)
    val rows = df.orderBy("k").collect()
    assert(rows(0).isNullAt(0) && rows(0).getLong(1) === 1L)
    assert(rows(1).getLong(0) === 5L)
  }

  test("empty vs missing vs whitespace nested structs (reference parity)") {
    // Mirrors the reference's null-nested-struct fixtures and assertions
    // (reference: src/test/scala/com/databricks/spark/xml/XmlSuite.scala:
    // 739-767): an empty <es/> under b is a Row of nulls, not null; an
    // empty <b> yields es = null; <f> </f> keeps " " while <f></f> is "".
    val f1 = load(
      """<root>
        |  <item><b><!-- c --><es><e>1</e></es></b></item>
        |  <item><b><!-- c --><es></es></b></item>
        |</root>""".stripMargin,
      Map("rowTag" -> "item"))
    val r1 = f1.select("b.es").collect()
    assert(r1(1).getStruct(0) !== null)
    assert(r1(1).getStruct(0)(0) === null)

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "b STRUCT<es: STRUCT<e: STRING, f: STRING>>")
    val r2 = load(
      """<root>
        |  <item><b>
        |  </b></item>
        |  <item><b><es></es></b></item>
        |  <item><b><es><e>E</e></es></b></item>
        |  <item><b><es><e>E</e><f> </f></es></b></item>
        |  <item><b><es><e>E</e><f></f></es></b></item>
        |</root>""".stripMargin,
      Map("rowTag" -> "item"), Some(schema)).collect()
    assert(r2(0) === Row(Row(null)))
    assert(r2(1) === Row(Row(Row(null, null))))
    assert(r2(2) === Row(Row(Row("E", null))))
    assert(r2(3) === Row(Row(Row("E", " "))))
    assert(r2(4) === Row(Row(Row("E", ""))))
  }

  test("decimals with scale greater than precision of the literal (reference parity)") {
    // reference: src/test/scala/com/databricks/spark/xml/XmlSuite.scala:1210-1222
    val schema = StructType(Seq(StructField("Number", DecimalType(7, 4))))
    val df = load(
      """<ROWS><Row> <Number>0.0000</Number> </Row>
        |<Row> <Number>0.01</Number> </Row></ROWS>""".stripMargin,
      Map("rowTag" -> "Row"), Some(schema))
    val results = df.collect()
    assert(results(0).getAs[java.math.BigDecimal](0).toString === "0.0000")
    assert(results(1).getAs[java.math.BigDecimal](0).toString === "0.0100")
  }

  test("double field with whitespace-only value marks the row corrupt (reference parity)") {
    // reference: XmlSuite.scala:1224-1234 + resources/whitespace_error.xml
    val schema = StructType(Seq(
      StructField("Book", StructType(Seq(StructField("Price", DoubleType)))),
      StructField("_corrupt_record", StringType)))
    val df = load("<Books><Book><Price> </Price></Book></Books>",
      Map("rowTag" -> "Books"), Some(schema))
    assert(df.count() === 1)
    assert(df.take(1).head.getAs[String]("_corrupt_record") !== null)
  }

  test("attributes starting on a new line parse with all separators (reference parity)") {
    // reference: XmlSuite.scala:947-969 + resources/attributesStartWithNewLine*.xml
    for (sep <- Seq("\n", "\r", "\r\n")) {
      val xml = "<?xml version=\"1.0\"?>" + sep + "<note" + sep +
        "        xmlns=\"http://www.w3schools.com\"" + sep +
        "        xmlns:xsi=\"http://www.w3.org/2001/XMLSchema-instance\"" + sep +
        "        xsi:schemaLocation=\"http://www.w3schools.com note.xsd\">" + sep +
        "<to>Tove</to><from>Jani</from><heading>R</heading><body>B</body></note>"
      val df = load(xml, Map("rowTag" -> "note", "ignoreNamespace" -> "true"))
      assert(df.count() === 1)
      val row = df.selectExpr("to", "from", "heading").head()
      assert(row === Row("Tove", "Jani", "R"))
    }
  }

  test("XML in a string field preserves nested attributes (reference parity)") {
    // reference: XmlSuite.scala:1245-1253 + resources/cars-attribute.xml
    val schema = StructType(Seq(StructField("ROW", StringType)))
    val df = load(
      """<ROWSET>
        |    <ROW>
        |        <year>2015</year>
        |        <comment foo="bar">No</comment>
        |    </ROW>
        |</ROWSET>""".stripMargin,
      Map("rowTag" -> "ROWSET"), Some(schema))
    assert(df.head().getString(0).contains("<comment foo=\"bar\">No</comment>"))
  }

  test("ignoreSurroundingSpaces trims whitespace-padded values") {
    val df = load(
      """<ROWS><ROW><age>  25 </age><name>  Pad </name></ROW></ROWS>""",
      Map("rowTag" -> "ROW", "ignoreSurroundingSpaces" -> "true"))
    assert(df.schema("age").dataType === LongType)
    assert(df.head() === Row(25L, "Pad"))
  }

  test("whitespace-only value stays string without trimming") {
    val df = load(
      """<ROWS><ROW><age>    </age><k>1</k></ROW></ROWS>""",
      Map("rowTag" -> "ROW"))
    assert(df.schema("age").dataType === StringType)
    assert(df.head().getString(0) === "    ")
  }

  test("array of dates from repeated elements") {
    val df = load(
      """<catalog>
        |  <book><publish_date>2000-10-01</publish_date><publish_date>2001-11-02</publish_date></book>
        |</catalog>""".stripMargin,
      Map("rowTag" -> "book"))
    assert(df.schema("publish_date").dataType === ArrayType(DateType))
    val ds = df.select(explode(col("publish_date"))).collect().map(_.getDate(0).toString).sorted
    assert(ds.toSeq === Seq("2000-10-01", "2001-11-02"))
  }

  test("XML comments and CDATA inside records") {
    val df = load(
      """<ROWS>
        |  <ROW><!-- a comment --><k>1</k><v><![CDATA[x < y & z]]></v></ROW>
        |</ROWS>""".stripMargin,
      Map("rowTag" -> "ROW"))
    val r = df.head()
    assert(r.getLong(df.schema.fieldIndex("k")) === 1L)
    assert(r.getString(df.schema.fieldIndex("v")) === "x < y & z")
  }

  test("row tags inside comments/CDATA between records are not record starts") {
    val df = load(
      """<ROWS>
        |  <ROW><k>1</k></ROW>
        |  <!-- dead record: <ROW><k>99</k></ROW> -->
        |  <ROW><k>2</k></ROW>
        |  <other><![CDATA[<ROW><k>98</k></ROW>]]></other>
        |  <ROW><k>3</k></ROW>
        |</ROWS>""".stripMargin,
      Map("rowTag" -> "ROW", "mode" -> "FAILFAST"))
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("child tag that is a proper prefix of rowTag (row/ro)") {
    val df = load(
      """<ROWS>
        |  <row><ro><b>1</b></ro><k>1</k></row>
        |  <row><ro>x</ro><k>2</k></row>
        |  <row><k>3</k></row>
        |</ROWS>""".stripMargin,
      Map("rowTag" -> "row", "mode" -> "FAILFAST"))
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("child tag that is a proper prefix of rowTag (books/book)") {
    val df = load(
      "<lib><books><book>a</book><n>1</n></books><books><book>b</book><n>2</n></books></lib>",
      Map("rowTag" -> "books", "mode" -> "FAILFAST"))
    assert(df.select("n").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    assert(df.select("book").collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
  }

  test("self-closing and attributed prefix-named children") {
    val df = load(
      """<ROWS>
        |  <row><ro/><k>1</k></row>
        |  <row><ro a="v">y</ro><k>2</k></row>
        |</ROWS>""".stripMargin,
      Map("rowTag" -> "row", "mode" -> "FAILFAST"))
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("end tag with whitespace before '>' is recognized") {
    val df = load(
      "<ROWS><row><k>1</k></row ><row><k>2</k></row\n></ROWS>",
      Map("rowTag" -> "row", "mode" -> "FAILFAST"))
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("corrupt record column captures raw record in PERMISSIVE") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("_corrupt_record", StringType)))
    val f = Files.createTempFile("graft-corrupt", ".xml")
    Files.writeString(f, "<R><W><k>1</k></W><W><k>notanumber</k></W></R>")
    val df = spark.read.format("graft.xml").schema(schema).option("rowTag", "W").load(f.toString)
    val bad = df.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length === 1)
    assert(bad(0).getString(1).contains("notanumber"))
  }

  test("empty file with known schema reads as an empty frame (reference parity)") {
    // reference XmlSuite.scala: "DSL test with empty file and known schema" /
    // "DDL test with empty file" — an empty input with a user schema is a
    // valid, empty table, not an error.
    val dir = Files.createTempDirectory("graft-conf-empty")
    Files.writeString(dir.resolve("empty.xml"), "")
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("age", LongType)))
    val df = spark.read.format("graft.xml").option("rowTag", "person")
      .schema(schema).load(dir.toString)
    assert(df.count() === 0)
    assert(df.schema === schema)
    // and through SQL DDL, like the reference's DDL variant
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW conf_empty (name STRING, age BIGINT)
      USING graft.xml OPTIONS (path '$dir', rowTag 'person')""")
    assert(spark.sql("SELECT count(*) FROM conf_empty").collect().head.getLong(0) === 0)
    assert(spark.table("conf_empty").schema === schema)
  }

  test("option validation rejects the reference's invalid combinations") {
    // reference XmlSuite.scala: "Empty string not allowed for rowTag…",
    // "'rowTag' and 'rootTag' should not include angle brackets",
    // "valueTag and attributePrefix should not be the same."
    def bad(opts: (String, String)*): Unit = {
      val e = intercept[IllegalArgumentException] { XmlOptions(opts.toMap) }
      assert(e.getMessage != null)
    }
    bad("rowTag" -> "")
    bad("rootTag" -> "")
    bad("valueTag" -> "")
    bad("rowTag" -> "<row>")
    bad("rootTag" -> "<rows>")
    bad("valueTag" -> "_attr", "attributePrefix" -> "_attr")
    bad("samplingRatio" -> "0")
  }

  test("missing input path fails with a clear error, with or without schema") {
    // reference XmlSuite.scala: "Issue 588: Ensure fails when data is not present"
    val missing = "/tmp/graft-conf-definitely-missing-" + System.nanoTime()
    val schema = StructType(Seq(StructField("name", StringType)))
    intercept[Exception] {
      spark.read.format("graft.xml").option("rowTag", "r").load(missing).count()
    }
    intercept[Exception] {
      spark.read.format("graft.xml").option("rowTag", "r")
        .schema(schema).load(missing).count()
    }
  }

  test("rowValidationXSDPath resolves through SparkContext.addFile (reference parity)") {
    // reference XmlSuite.scala: "test XSD validation with addFile() with
    // validation error" — executors resolve the XSD by basename via SparkFiles.
    val xsd = Files.createTempFile("graft-conf-addfile", ".xsd")
    Files.writeString(xsd,
      """<?xml version="1.0" encoding="UTF-8"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="person">
        |    <xs:complexType><xs:sequence>
        |      <xs:element name="name" type="xs:string"/>
        |      <xs:element name="age" type="xs:long"/>
        |    </xs:sequence></xs:complexType>
        |  </xs:element>
        |</xs:schema>""".stripMargin)
    spark.sparkContext.addFile(xsd.toString)
    val data = Files.createTempDirectory("graft-conf-addfile-data")
    Files.writeString(data.resolve("people.xml"),
      """<people>
        |<person><name>ok</name><age>30</age></person>
        |<person><age>31</age></person>
        |</people>""".stripMargin)
    val df = spark.read.format("graft.xml")
      .option("rowTag", "person").option("mode", "DROPMALFORMED")
      .option("rowValidationXSDPath", xsd.getFileName.toString)
      .schema(StructType(Seq(
        StructField("name", StringType), StructField("age", LongType))))
      .load(data.toString)
    assert(df.collect().map(_.getString(0)).toSeq === Seq("ok"))
  }

  test("user schema field order wins over document order for nested rows (reference parity)") {
    // The document writes <a> before <b>; the user schema declares b before
    // a. Values must land by NAME in the user's column order, not by
    // position in the document.
    val schema = StructType(Seq(
      StructField("c", StructType(Seq(
        StructField("b", IntegerType),
        StructField("a", IntegerType))))))
    val df = load(
      """<rows>
        |  <row><c><a>111</a><b>222</b></c></row>
        |</rows>""".stripMargin,
      Map("rowTag" -> "row"),
      Some(schema))
    assert(df.select("c.a", "c.b").head() === Row(111, 222))
    assert(df.select("c").head().getStruct(0) === Row(222, 111))
  }

  test("projecting one nested struct keeps all its children populated (reference parity)") {
    // Column pruning prunes TOP-LEVEL fields only; selecting a struct must
    // deliver the complete struct, even when sibling top-level fields are
    // pruned away at the scan.
    val df = load(
      """<books>
        |  <book>
        |    <title>t1</title>
        |    <dates><pub>2001-01-01</pub><rev>2002-02-02</rev></dates>
        |    <price>10.5</price>
        |  </book>
        |  <book>
        |    <title>t2</title>
        |    <dates><pub>2003-03-03</pub><rev>2004-04-04</rev></dates>
        |    <price>11.5</price>
        |  </book>
        |</books>""".stripMargin,
      Map("rowTag" -> "book"))
    val rows = df.select("dates").collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(!r.anyNull)
      val s = r.getStruct(0)
      assert(!s.anyNull && s.size === 2)
    }
  }

  test("StAX factory disables DTD parsing and external entities (reference parity)") {
    // reference StaxXmlParserUtilsSuite "XML Input Factory disables DTD
    // parsing" — XXE defense: external entities must never resolve while
    // parsing untrusted corpora.
    import javax.xml.stream.XMLInputFactory
    val f = StaxXmlParser.inputFactory
    assert(f.getProperty(XMLInputFactory.SUPPORT_DTD) === false)
    assert(f.getProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES) === false)
    // Behavior check: a document declaring an external entity that points at
    // a local file must never surface that file's content — the reference
    // (&ext;) stays unresolved (PERMISSIVE turns the record into a corrupt
    // row or a null field, either is fine; leaking TOP-SECRET is not).
    val secret = Files.createTempFile("graft-xxe", ".txt")
    Files.writeString(secret, "TOP-SECRET")
    val df = load(
      s"""<?xml version="1.0"?>
         |<!DOCTYPE rows [<!ENTITY ext SYSTEM "file://${secret.toAbsolutePath}">]>
         |<rows>
         |  <row><v>&ext;</v><k>1</k></row>
         |  <row><v>plain</v><k>2</k></row>
         |</rows>""".stripMargin,
      Map("rowTag" -> "row", "mode" -> "PERMISSIVE"))
    val vals = df.collect().flatMap(_.toSeq).map(String.valueOf)
    assert(!vals.exists(_.contains("TOP-SECRET")),
      "external entity expansion leaked file content into a parsed row")
    assert(vals.exists(_ == "plain"), "well-formed sibling record must survive")
  }

  test("the StAX implementation is Hadoop's shaded Woodstox") {
    // Which implementation `XMLInputFactory.newInstance()` finds depends on
    // the classpath, and with it how a malformed record fails and whether
    // readers can be recycled; a classpath change that swaps it must show.
    assert(StaxXmlParser.inputFactory.getClass.getName ===
      "org.apache.hadoop.shaded.com.ctc.wstx.stax.WstxInputFactory")
    intercept[IllegalArgumentException] {
      StaxXmlParser.inputFactory.setProperty("reuse-instance", java.lang.Boolean.TRUE)
    }
  }

  test("arrayElementName names nested-array items on write (reference parity)") {
    // reference XmlSuite.scala: "DSL save with item" — an array nested
    // inside an array has no element name of its own, so the writer wraps
    // each inner array in `arrayElementName` (default "item").
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-conf-item").resolve("out").toString
    Seq(Tuple1(Array(Array(3, 4)))).toDF("thing").repartition(1)
      .write.format("graft.xml").option("arrayElementName", "foo")
      .option("rowTag", "ROW").save(dir)
    val lines = partFileLines(dir)
    assert(lines.count(_.contains("<foo>")) === 2, lines.mkString("\n"))
    // Read-back wraps the inner arrays in the default "item" field.
    val back = spark.read.format("graft.xml").option("rowTag", "ROW").load(dir)
    val thing = back.schema("thing").dataType.asInstanceOf[StructType]
    assert(thing.fieldNames.toSeq === Seq("foo"))
  }

  test("depth-3 nested arrays keep their grouping on write") {
    // [[1,2],[3]] and [[1],[2,3]] must not serialize identically: each
    // array-valued item becomes ONE wrapped element with its own array
    // body, recursively — not a flattened run of item tags.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-conf-deep").resolve("out").toString
    Seq(Tuple1(Array(Array(Array(1, 2), Array(3))))).toDF("thing").repartition(1)
      .write.format("graft.xml").option("rowTag", "ROW").save(dir)
    val body = partFileLines(dir).mkString("").replaceAll(">\\s+<", "><")
    assert(body.contains(
      "<thing><item><item>1</item><item>2</item></item><item><item>3</item></item></thing>"),
      body)
  }

  test("inferSchema=false keeps every leaf a string (reference parity)") {
    // reference XmlSuite.scala: "test all string data type infer strategy" /
    // "test default data type infer strategy" — leading zeros survive only
    // without type inference.
    val xml = "<ROWSET><ROW><col1>00010</col1></ROW></ROWSET>"
    val text = load(xml, Map("rowTag" -> "ROW", "inferSchema" -> "false"))
    assert(text.schema("col1").dataType === StringType)
    assert(text.head().getAs[String]("col1") === "00010")
    val typed = load(xml, Map("rowTag" -> "ROW", "inferSchema" -> "true"))
    assert(typed.head().getAs[Long]("col1") === 10L)
  }

  test("valueTag starting with attributePrefix round-trips on write (reference parity)") {
    // reference XmlSuite.scala: "Write values properly as given to valueTag
    // even if it starts with attributePrefix" — the writer must tell the
    // value field apart from attribute fields by NAME EQUALITY with
    // valueTag, not by the attribute-prefix test alone.
    val df = load(
      """<catalog>
        |  <book id="b1">text one</book>
        |  <book id="b2">text two</book>
        |</catalog>""".stripMargin,
      Map("rowTag" -> "book", "valueTag" -> "#VALUE", "attributePrefix" -> "#"))
    val dir = Files.createTempDirectory("graft-conf-vt").resolve("out").toString
    df.write.format("graft.xml")
      .option("rowTag", "book").option("rootTag", "catalog")
      .option("valueTag", "#VALUE").option("attributePrefix", "#").save(dir)
    val back = spark.read.format("graft.xml")
      .option("rowTag", "book").option("valueTag", "#VALUE")
      .option("attributePrefix", "_").load(dir)
    assert(back.count() === df.count())
    assert(back.select("#VALUE").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("text one", "text two"))
  }
}
